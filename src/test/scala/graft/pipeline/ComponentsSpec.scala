package graft.pipeline

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property tests for the large-star/small-star connected-components
  * operator against a brute-force union-find oracle, over random graphs
  * spanning the shapes dedup produces: sparse pair soup, long chains
  * (worst-case diameter), and one giant hub (boilerplate cluster).
  */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Brute-force oracle: path-compressed union-find, min id as root. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
    }
    // Roots are min-of-component only with the ordered union above plus a
    // final sweep: re-point every node at the component minimum.
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) =>
      val m = ns.min
      ns.map(_ -> m)
    }
  }

  /** The driver tail served `df`: its plan is the collected rows (a
    * LocalRelation under the renaming projection), not a distributed plan. */
  private def driverServed(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case Project(_, _: LocalRelation) | _: LocalRelation => true
      case _ => false
    }

  /** Gate boundary of a driver-tail operator: with the bound at `exact`, the
    * gate frame's row count in distinct undirected edges, the driver tail
    * serves `op`; one below, the distributed path does; both read `want`. */
  private def checkGateBoundary[T](exact: Long, want: T, clue: String)(
      op: Long => DataFrame)(read: DataFrame => T): Unit = {
    val (at, below) = (op(exact), op(exact - 1))
    assert(driverServed(at), s"$clue: driver tail at bound $exact")
    assert(!driverServed(below), s"$clue: distributed at bound ${exact - 1}")
    assert(read(at) == want, s"$clue at bound $exact")
    assert(read(below) == want, s"$clue at bound ${exact - 1}")
  }

  private def pairMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def tripleMap(df: DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("u", "v").repartition(4)
    Components.connectedComponents(df)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
  }

  test("random sparse graphs match union-find") {
    val rnd = new Random(42)
    for (trial <- 1 to 8) {
      val n = 20 + rnd.nextInt(60)
      val m = n / 2 + rnd.nextInt(n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty)
        assert(run(edges) == unionFind(edges), s"trial $trial n=$n m=$m")
    }
  }

  test("long chain (worst-case diameter) collapses to one component") {
    val chain = (0L until 40L).sliding(2).map(s => (s(1), s(0))).toSeq
    val got = run(chain)
    assert(got.size == 40 && got.values.toSet == Set(0L))
  }

  test("hub + duplicate + self-loop edges") {
    val hub = (1L to 30L).map(v => (0L, v))
    val noise = Seq((5L, 5L), (0L, 7L), (7L, 0L), (40L, 41L))
    val got = run(hub ++ noise)
    assert(got.filter(_._1 <= 30L).values.toSet == Set(0L))
    assert(got(40L) == 40L && got(41L) == 40L)
  }

  test("settled components leave the loop: unsettled edges shrink per round") {
    import spark.implicits._
    // 200 disjoint pairs (stars already — settle in the first split round)
    // + one 60-node chain (needs several rounds): after the first split the
    // loop must run on the chain tail only, not re-canonicalize the pairs
    val pairs = (0L until 400L by 2).map(i => (i + 1000000L, i + 1000001L))
    val chain = (0L until 60L).sliding(2).map(s => (s(0), s(1))).toSeq
    val edges = pairs ++ chain
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val got = Components.connectedComponents(
        edges.toDF("u", "v").repartition(4), (r, n) => rounds += ((r, n)),
        splitThreshold = 0L, localSolveThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges))
    // before any round: the full edge set
    assert(rounds.head == (0, (pairs.length + chain.length).toLong), rounds.toString)
    // after the first split round the 200 pair-star edges are out of the
    // working set for good — every later round runs on the chain tail only
    // (star ops may transiently reshape the chain's edges, hence the slack)
    assert(rounds.tail.forall(_._2 < 120L), rounds.toString)
  }

  test("distributed loop (local solve off) == local solve == oracle") {
    import spark.implicits._
    val rnd = new Random(99)
    for (trial <- 1 to 4) {
      val n = 30 + rnd.nextInt(50)
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val df = edges.toDF("u", "v").repartition(4)
        val dist = Components.connectedComponents(df, (_, _) => (),
            localSolveThreshold = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val local = Components.connectedComponents(df, (_, _) => ())
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(dist == local, s"trial $trial")
        assert(local == unionFind(edges), s"trial $trial")
      }
    }
  }

  test("pure self-loop nodes appear as singleton components") {
    // 99 appears ONLY as a self-loop; 5 has a self-loop AND real edges.
    val edges = Seq((99L, 99L), (5L, 5L), (5L, 3L), (3L, 1L), (10L, 11L))
    val got = run(edges)
    assert(got(99L) == 99L)
    assert(got(5L) == 1L && got(3L) == 1L && got(1L) == 1L)
    assert(got(11L) == 10L && got(10L) == 10L)
    assert(got.size == 6)
  }

  test("reliable-checkpoint path (checkpoint dir set) gives identical results") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val rnd = new Random(7)
      val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(e => e._1 != e._2)
      assert(run(edges) == unionFind(edges))
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("disjoint pairs stay disjoint") {
    val pairs = (0L until 20L by 2).map(i => (i + 1, i))
    val got = run(pairs)
    assert(got == pairs.flatMap { case (a, b) => Seq(a -> b, b -> b) }.toMap)
  }

  /** Brute-force triangle oracle: all node triples over the distinct
    * undirected edge set. */
  private def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.filter(e => e._1 != e._2)
      .map(e => (e._1 min e._2, e._1 max e._2)).toSet
    val nodes = es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val tri = for {
      (a, i) <- nodes.zipWithIndex
      b <- nodes.drop(i + 1) if es((a, b))
      c <- nodes.dropWhile(_ <= b) if es((a, c)) && es((b, c))
    } yield Seq(a, b, c)
    tri.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  private def runTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Components.triangleCounts(edges.toDF("u", "v").repartition(4))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("triangle counts match brute force on random graphs") {
    val rnd = new Random(7)
    for (trial <- 1 to 6) {
      val n = 10 + rnd.nextInt(20)
      val m = n + rnd.nextInt(2 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      assert(runTriangles(edges) == bruteTriangles(edges), s"trial $trial")
    }
  }

  test("triangle counts: clique, hub, duplicate/self-loop noise") {
    // K5 embedded in a star hub: each K5 node sits in C(4,2)=6 triangles;
    // the hub's spokes alone close nothing
    val k5 = for { a <- 0L until 5L; b <- (a + 1) until 5L } yield (a, b)
    val hub = (10L until 30L).map(v => (99L, v))
    val noise = Seq((0L, 0L), (1L, 0L), (0L, 1L)) // self-loop + dup both ways
    val got = runTriangles(k5 ++ hub ++ noise)
    assert((0L until 5L).forall(n => got(n) == 6L), got.toString)
    assert(!got.contains(99L) && !got.contains(10L))
    // 4 6-cliques (C(6,3) = 20 triangles each) and a hub 5000 whose 30
    // spokes are chained (29 hub triangles)
    val cliques = for {
      c <- 0L until 4L; i <- 0L until 6L; j <- (i + 1) until 6L
    } yield (c * 100 + i, c * 100 + j)
    val spokes = (1L to 30L).map(i => (5000L, 5000L + i))
    val chain = (1L until 30L).map(i => (5000L + i, 5001L + i))
    val got2 = runTriangles(cliques ++ spokes ++ chain)
    assert(got2.values.sum == 3L * (4 * 20 + 29))
    assert(got2(5000L) == 29L)
  }

  /** In-memory reference of [[Components.pageRank]]'s exact integer
    * recurrence (same per-edge floor division, same base/damping). */
  private def prOracle(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var rank = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val contrib = sym.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) =>
          rank(u) * Components.PrDampPct / (100L * deg(u)) }.sum
      }
      rank = deg.keys.map(n =>
        n -> (Components.PrBaseMicro + contrib.getOrElse(n, 0L))).toMap
    }
    rank
  }

  private def runPageRank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    Components.pageRank(edges.toDF("a", "b").repartition(4), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("pageRank matches the integer recurrence on random graphs") {
    val rnd = new Random(11)
    for (trial <- 1 to 5) {
      val n = 8 + rnd.nextInt(16)
      val m = n + rnd.nextInt(2 * n)
      // unique undirected pairs, no self-loops (pageRank's input contract —
      // minhashPairs emits doc_a < doc_b distinct)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (a min b, a max b) }.distinct
      val iters = 1 + rnd.nextInt(5)
      assert(runPageRank(edges, iters) == prOracle(edges, iters), s"trial $trial")
    }
  }

  /** In-memory multi-source BFS oracle: hop distance from each component's
    * min-id node. */
  private def hopsOracle(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val adj = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
    val comp = unionFind(edges)
    comp.groupBy(_._2).flatMap { case (root, _) =>
      var dist = Map(root -> 0L)
      var level = Seq(root)
      var h = 0L
      while (level.nonEmpty) {
        h += 1
        val nxt = level.flatMap(adj.getOrElse(_, Nil))
          .filter(n => !dist.contains(n)).distinct
        nxt.foreach(n => dist += n -> h)
        level = nxt
      }
      dist.map { case (n, hh) => n -> (root, hh) }
    }.toMap
  }

  private def runHops(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    import spark.implicits._
    Components.hopsFromRoots(edges.toDF("a", "b").repartition(4))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("hopsFromRoots matches level-order BFS on random graphs") {
    val rnd = new Random(17)
    for (trial <- 1 to 4) {
      val n = 10 + rnd.nextInt(15)
      val m = n + rnd.nextInt(n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (a min b, a max b) }.distinct
      if (edges.nonEmpty)
        assert(runHops(edges) == hopsOracle(edges), s"trial $trial")
    }
  }

  test("hopsFromRoots: chain depth and disjoint components") {
    // chain 0-1-2-3-4 → hops = index; separate pair (10, 11)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val got = runHops(edges)
    assert(got == Map(
      0L -> (0L, 0L), 1L -> (0L, 1L), 2L -> (0L, 2L), 3L -> (0L, 3L),
      4L -> (0L, 4L), 10L -> (10L, 0L), 11L -> (10L, 1L)), got.toString)
  }

  test("triangles/pageRank/hops: distributed (local solve off) == driver " +
    "tail solve on random graphs (r16)") {
    import spark.implicits._
    val rnd = new Random(1601)
    for (trial <- 1 to 4) {
      val n = 12 + rnd.nextInt(20)
      val m = n + rnd.nextInt(2 * n)
      val raw = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val df = raw.toDF("a", "b").repartition(4)
      val triD = pairMap(Components.triangleCounts(df, localSolveThreshold = 0L))
      val triL = pairMap(Components.triangleCounts(df))
      assert(triD == triL, s"triangles trial $trial")
      val clean = raw.filter { case (a, b) => a != b }
        .map { case (a, b) => (a min b, a max b) }.distinct
      if (clean.nonEmpty) {
        checkGateBoundary(clean.size, triD, s"triangles trial $trial")(
          Components.triangleCounts(df, _))(pairMap)
        val cdf = clean.toDF("a", "b").repartition(4)
        val prD = pairMap(Components.pageRank(cdf, 3, localSolveThreshold = 0L))
        val prL = pairMap(Components.pageRank(cdf, 3))
        assert(prD == prL, s"pageRank trial $trial")
        checkGateBoundary(clean.size, prD, s"pageRank trial $trial")(
          Components.pageRank(cdf, 3, _))(pairMap)
        val hD = tripleMap(Components.hopsFromRoots(cdf, 40, localSolveThreshold = 0L))
        val hL = tripleMap(
          Components.hopsFromRoots(cdf, 40, Components.LocalSolveThreshold))
        assert(hD == hL, s"hops trial $trial")
        checkGateBoundary(clean.size, hD, s"hops trial $trial")(
          Components.hopsFromRoots(cdf, 40, _))(tripleMap)
      }
    }
  }

  test("hopsFromRoots: maxRounds cap drops deeper nodes identically on " +
    "both paths (r16)") {
    import spark.implicits._
    // chain 0-1-2-3-4-5: with maxRounds = 2 only hops <= 2 survive
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b").repartition(4)
    val want = Map(0L -> (0L, 0L), 1L -> (0L, 1L), 2L -> (0L, 2L))
    val local = Components.hopsFromRoots(chain, 2, Components.LocalSolveThreshold)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dist = Components.hopsFromRoots(chain, 2, localSolveThreshold = 0L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(local == want, local.toString)
    assert(dist == want, dist.toString)
  }

  test("pageRank: hubs outrank leaves; regular graphs sit at the fixpoint") {
    // star: the center concentrates rank, every leaf ties
    val star = (1L to 6L).map(v => (0L, v))
    val got = runPageRank(star, 5)
    assert(got(0L) > got(1L), got.toString)
    assert((2L to 6L).forall(v => got(v) == got(1L)), got.toString)
    // triangle (2-regular): 1e6 is exactly preserved every round
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L))
    assert(runPageRank(tri, 4).values.toSet == Set(1000000L))
  }

  test("clustering coefficients: clique 10000, path 0, star center 0") {
    import spark.implicits._
    // K4 on {0..3} + path 10–11–12 + star 20→{21,22,23}
    val edges = (for { i <- 0L to 3L; j <- (i + 1) to 3L } yield (i, j)) ++
      Seq((10L, 11L), (11L, 12L)) ++ (21L to 23L).map(v => (20L, v))
    val got = Components.clusteringCoefficients(edges.toDF("u", "v"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    (0L to 3L).foreach(v => assert(got(v) == ((3L, 3L, 10000L)), s"clique $v"))
    assert(got(11L) == ((2L, 0L, 0L)))       // path middle: open wedge
    assert(got(20L) == ((3L, 0L, 0L)))       // star center: no closures
    // degree-1 nodes (10, 12, leaves) are excluded by the d >= 2 contract
    assert(!got.contains(10L) && !got.contains(21L))
  }

  /** In-memory reference of the deterministic sync-LPA recurrence: every
    * node adopts its most frequent neighbor label, ties to the smallest. */
  private def lpaRef(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      labels = adj.map { case (n, nbrs) =>
        val cnt = nbrs.groupBy(labels).view.mapValues(_.size).toSeq
        n -> cnt.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  private def runLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("u", "v").repartition(4)
    Components.labelPropagation(df, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("labelPropagation matches the sync recurrence on random graphs") {
    val rnd = new Random(271)
    for (trial <- 1 to 6) {
      val n = 15 + rnd.nextInt(40)
      val m = n + rnd.nextInt(2 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .distinct
      if (edges.nonEmpty)
        assert(runLpa(edges, 3) == lpaRef(edges, 3), s"trial $trial n=$n m=$m")
    }
  }

  test("labelPropagation: distributed rounds (local solve off) == driver " +
    "tail solve == sync recurrence (r15)") {
    import spark.implicits._
    val rnd = new Random(407)
    for (trial <- 1 to 4) {
      val n = 20 + rnd.nextInt(40)
      val m = n + rnd.nextInt(2 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .distinct
      if (edges.nonEmpty) {
        val df = edges.toDF("u", "v").repartition(4)
        val dist = pairMap(Components.labelPropagation(df, 3, localSolveThreshold = 0L))
        val local = pairMap(Components.labelPropagation(df, 3))
        assert(dist == local, s"trial $trial n=$n m=$m")
        assert(local == lpaRef(edges, 3), s"trial $trial n=$n m=$m")
        checkGateBoundary(edges.size, dist, s"trial $trial n=$n m=$m")(
          Components.labelPropagation(df, 3, _))(pairMap)
      }
    }
  }

  test("labelPropagation separates bridged dense clusters components weld") {
    // barbell: triangles {0,1,2} and {10,11,12} joined by the bridge 2–10 —
    // one COMPONENT, but each triangle's majority vote keeps its own label
    val barbell = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L), (2L, 10L))
    val cc = run(barbell)
    assert(cc.values.toSet.size == 1) // components: welded
    val lpa = runLpa(barbell, 4)
    val left = Set(0L, 1L, 2L).map(lpa)
    val right = Set(10L, 11L, 12L).map(lpa)
    assert(left.size == 1 && right.size == 1 && left != right,
      s"communities not separated: $lpa")
    // two 20-cliques bridged by one edge: exactly two communities, labelled
    // by the clique minima
    def clique(off: Long) =
      for { i <- 0L until 20L; j <- (i + 1) until 20L } yield (i + off, j + off)
    val dense = runLpa(clique(0L) ++ clique(1000L) :+ ((0L, 1000L)), 4)
    assert(dense.groupBy(_._2).view.mapValues(_.size).toMap ==
      Map(0L -> 20, 1000L -> 20), dense.toString)
  }

  /** The adversarial graph shapes, shrunk: 20 chains of 20 nodes (ids
    * 0..399), one hub 1000 with 50 leaves 1001..1050, and 30 disjoint pairs
    * from 2000 up (every edge `a < b`, each once). */
  private val plantedGraph: Seq[(Long, Long)] =
    (0L until 400L).filter(_ % 20 != 19).map(i => (i, i + 1)) ++
      (1L to 50L).map(i => (1000L, 1000L + i)) ++
      (0L until 30L).map(i => (2000L + 2 * i, 2001L + 2 * i))

  test("planted chains, hub and pairs: component count and the hub " +
    "component; PageRank fixpoints and hub maximum; LPA 2-cycles") {
    val g = plantedGraph
    val sizes = run(g).groupBy(_._2).values.map(_.size)
    assert(sizes.size == 20 + 1 + 30)
    assert(sizes.max == 51)
    val pr = runPageRank(g, 5)
    assert(pr.size == 400 + 51 + 60)
    // every pair node is 1-regular: the integer recurrence keeps exactly
    // 1e6 through every round
    assert(pr.filter(_._1 >= 2000L).values.sum == 60L * 1000000L)
    assert(pr(1000L) == pr.values.max)
    // sync LPA 2-cycles on bipartite shapes: after an even round each pair
    // node is back at its own label, every leaf holds the least leaf id and
    // the hub its own
    val lpa = runLpa(g, 4)
    assert(lpa.count { case (n, l) => n >= 2000L && n == l } == 60)
    assert((1001L to 1050L).map(lpa).toSet == Set(1001L))
    assert(lpa(1000L) == 1000L)
  }

  test("modularity: distributed (local solve off) == driver tail solve on " +
    "random graphs and labelings (r16)") {
    import spark.implicits._
    val rnd = new Random(1613)
    def row(df: org.apache.spark.sql.DataFrame): (Long, Long, Option[Long]) = {
      val r = df.collect().head
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))
    }
    for (trial <- 1 to 4) {
      val n = 12 + rnd.nextInt(30)
      val m = n + rnd.nextInt(2 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val df = edges.toDF("a", "b").repartition(4)
      // random assignment over a SUPERSET of the nodes, with a fraction of
      // nodes left unlabeled (the dc/ec inner joins must drop them the
      // same way in both paths) and labels for nodes absent from the graph
      val labels = (0L until (n + 5).toLong)
        .filter(_ => rnd.nextInt(10) > 0)
        .map(node => (node, rnd.nextInt(1 + n / 4).toLong))
      val ldf = labels.toDF("node", "label").repartition(3)
      val dist = row(Components.modularityOf(df, ldf, localSolveThreshold = 0L))
      val local = row(Components.modularityOf(df, ldf))
      assert(dist == local, s"trial $trial n=$n m=$m")
      val distinctEdges = edges.filter { case (a, b) => a != b }
        .map { case (a, b) => (a min b, a max b) }.distinct.size
      checkGateBoundary(distinctEdges, dist, s"trial $trial n=$n m=$m")(
        Components.modularityOf(df, ldf, _))(row)
    }
    // empty graph: both paths emit the one (0, 0, 0) summary row
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val lbl = Seq((1L, 1L)).toDF("node", "label")
    assert(row(Components.modularityOf(empty, lbl, localSolveThreshold = 0L))
      == (0L, 0L, Some(0L)))
    assert(row(Components.modularityOf(empty, lbl)) == (0L, 0L, Some(0L)))
    // duplicate label rows keep the distributed path (multiplying joins):
    // same answer from both entry points
    val tri0 = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("a", "b")
    val dup = Seq((0L, 0L), (0L, 0L), (1L, 0L), (2L, 7L)).toDF("node", "label")
    assert(row(Components.modularityOf(tri0, dup))
      == row(Components.modularityOf(tri0, dup, localSolveThreshold = 0L)))
  }

  test("modularity: two disjoint triangles = exactly 5000 bp; one blob = 0") {
    import spark.implicits._
    // two triangles, per-triangle labels: m = 6, each community e_c = 3,
    // d_c = 6 ⟹ Q = 2·(3/6 − (6/12)²) = 1/2 ⟹ 5000 bp exactly
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L),
      (10L, 10L), (11L, 10L), (12L, 10L)).toDF("node", "label")
    val r = Components.modularityOf(tri, labels).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 6L && r.getLong(2) == 5000L,
      s"expected (2, 6, 5000), got $r")
    // the degenerate one-community partition scores Q = e/m − 1 = 0 here
    // (all edges internal): Σ(4m·m − (2m)²) = 0
    val one = labels.select($"node",
      org.apache.spark.sql.functions.lit(0L).as("label"))
    val r1 = Components.modularityOf(tri, one).collect().head
    assert(r1.getLong(2) == 0L, s"one-blob modularity should be 0, got $r1")
    // anti-community labels (every edge crosses): strictly negative
    val anti = Seq((0L, 0L), (1L, 1L), (2L, 2L),
      (10L, 10L), (11L, 11L), (12L, 12L)).toDF("node", "label")
    val r2 = Components.modularityOf(tri, anti).collect().head
    assert(r2.getLong(2) < 0L, s"singleton labels should score negative, got $r2")
  }

  test("refine: distributed round (local solve off) == driver tail solve " +
    "on random graphs and LPA labels (r15)") {
    import spark.implicits._
    val rnd = new Random(811)
    for (trial <- 1 to 4) {
      val n = 20 + rnd.nextInt(40)
      val m = n + rnd.nextInt(2 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .distinct
      if (edges.nonEmpty) {
        val df = edges.toDF("u", "v").repartition(4)
        val lpa = Components.labelPropagation(df, 3)
        val dist = refined(Components.refineOf(df, lpa, localSolveThreshold = 0L))
        val local = refined(Components.refineOf(df, lpa))
        assert(dist == local, s"trial $trial n=$n m=$m")
        checkGateBoundary(edges.size, dist, s"trial $trial n=$n m=$m")(
          Components.refineOf(df, lpa, _))(refined)
      }
    }
    // a node with two label rows multiplies through the distributed joins;
    // the driver tail cannot represent that, so both entry points must
    // agree row for row
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L)).toDF("a", "b")
    val twoLabels = Seq((0L, 0L), (0L, 7L), (1L, 0L), (2L, 0L), (3L, 3L))
      .toDF("node", "label")
    assert(refined(Components.refineOf(tri, twoLabels)) ==
      refined(Components.refineOf(tri, twoLabels, localSolveThreshold = 0L)))
  }

  /** [[Components.refineOf]]'s rows as a multiset (sorted). */
  private def refined(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  test("refine: corpus-wide label table (mostly isolated nodes) — local " +
    "solve == distributed; non-endpoint labels never reach the driver " +
    "pull (r15 ADVICE)") {
    import spark.implicits._
    // a SMALL pair graph under the gate, paired with a label table 100×
    // larger (the public-API shape the advice flagged: refineOf used to
    // collect the ENTIRE label frame before filtering to endpoints)
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val wide = spark.range(1000L)
      .select($"id".as("node"),
        ($"id" % 7L).as("label")) // isolated nodes 13..999 dominate
    val local = Components.refineOf(tri, wide)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dist = Components.refineOf(tri, wide, localSolveThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(local == dist,
      "semi-joining labels to endpoints must preserve output parity")
    // output covers exactly the edge endpoints, never the isolated nodes
    assert(local.map(_._1) == Set(0L, 1L, 2L, 10L, 11L, 12L))
  }

  test("refine: never degrades Q on the fixtures; lifts a singleton start") {
    import spark.implicits._
    def qBp(pairs: org.apache.spark.sql.DataFrame,
        labels: org.apache.spark.sql.DataFrame): Long =
      Components.modularityOf(pairs, labels).collect().head.getLong(2)
    def refined(pairs: org.apache.spark.sql.DataFrame,
        labels: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      Components.refineOf(pairs, labels)
        .select($"node", $"refined".as("label"))
    // two disjoint triangles with the PERFECT partition: every node's own
    // community is already argmax, so refinement is a fixed point
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val perfect = Seq((0L, 0L), (1L, 0L), (2L, 0L),
      (10L, 10L), (11L, 10L), (12L, 10L)).toDF("node", "label")
    val triOut = Components.refineOf(tri, perfect).collect()
    assert(triOut.forall(r => r.getLong(1) == r.getLong(2)),
      s"a perfect partition must be a fixed point: ${triOut.toSeq}")
    assert(qBp(tri, refined(tri, perfect)) >= qBp(tri, perfect))
    // barbell: two triangles + a bridge, LPA labels — refinement keeps Q
    val barbell = tri.unionByName(Seq((2L, 10L)).toDF("a", "b"))
    val lpa = Components.labelPropagation(barbell, 4)
    assert(qBp(barbell, refined(barbell, lpa)) >= qBp(barbell, lpa),
      "refinement must not degrade the LPA partition's modularity")
    // singleton start on the two triangles: every node alone scores
    // negative Q; one synchronous round merges neighbors and lifts it
    val singleton = Seq(0L, 1L, 2L, 10L, 11L, 12L)
      .toDF("node").select($"node", $"node".as("label"))
    val q0 = qBp(tri, singleton)
    val q1 = qBp(tri, refined(tri, singleton))
    assert(q0 < 0L, s"singleton partition should score negative, got $q0")
    assert(q1 > q0, s"one refinement round must lift a singleton start: " +
      s"$q0 -> $q1")
  }

  test("canonicalRefined: the Q gate flips to the refined partition and " +
    "splits a bridge-welded false merge into two kept docs") {
    import spark.implicits._
    // two triangles + a bridge (2,11); after TWO synchronous LPA rounds the
    // min-label flood pulls node 11 across the bridge into community 0 —
    // the bridge-welded false merge (verified by hand with the exact
    // integer semantics): lpa = {0:{0,1,2,11}, 2:{10,12}}, Q = 1224 bp.
    // One refinement round moves 11 home: refined = {0:{0,1,2},
    // 2:{10,11,12}}, Q = 3571 bp, so the gate picks `refined` and the
    // keep-list splits into one kept doc per TRUE cluster.
    val pairs = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L), (2L, 11L)).toDF("doc_a", "doc_b")
    val chars = Seq(0L, 1L, 2L, 10L, 11L, 12L)
      .toDF("node").select($"node", ($"node" + 100L).as("n_chars"))
    val lpa = Components.labelPropagation(pairs, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa(11L) == lpa(0L) && lpa(11L) == lpa(2L),
      s"fixture precondition: LPA must weld 11 across the bridge, got $lpa")
    val out = Dedup.canonicalRefinedOf(pairs, chars, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(out.forall(_._5 == "refined"),
      s"the Q gate (1224 -> 3571 bp) must pick the refined basis: ${out.toSeq}")
    assert(out.toSeq.sorted == Seq(
      (0L, 2L, 102L, 3L, "refined"),     // true cluster A keeps its longest
      (2L, 12L, 112L, 3L, "refined")),   // true cluster B keeps ITS OWN doc
      s"refinement must yield one kept doc per true cluster: ${out.toSeq}")
    // counterfactual: acting on the raw LPA labels would keep ONE doc for
    // the welded {0,1,2,11} community — doc 11 collapsed into cluster A
    val weldSize = lpa.values.groupBy(identity).map(_._2.size).max
    assert(weldSize == 4, s"welded community should span 4 docs, got $lpa")
  }

  test("clusterMerge: contracted delta closure ≡ from-scratch union " +
    "closure; statuses pin the weld diagnostic") {
    import spark.implicits._
    // old components {0,2,4} (root 0), {10,12} (root 10), {20,22} (root
    // 20, untouched); arrival 1 bridges the first two; arrivals 3,5 form
    // their own cluster; even 30 was previously unpaired and joins via
    // arrival 31
    val all = Seq((0L, 2L), (2L, 4L), (10L, 12L), (20L, 22L),
      (1L, 4L), (1L, 10L), (3L, 5L), (30L, 31L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusterMergeOf(all).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq.sorted
    assert(out == Seq(
      (0L, 0L, 0L, "stable"), (1L, 0L, -1L, "arrival"),
      (2L, 0L, 0L, "stable"), (3L, 3L, -1L, "arrival"),
      (4L, 0L, 0L, "stable"), (5L, 3L, -1L, "arrival"),
      (10L, 0L, 10L, "merged"), (12L, 0L, 10L, "merged"),
      (20L, 20L, 20L, "stable"), (22L, 20L, 20L, "stable"),
      (30L, 30L, -1L, "merged"), (31L, 30L, -1L, "arrival")), out.toString)
  }

  test("mergeComponentMap CHAINS: two sequential arrival batches folded " +
    "through the intermediate map ≡ one closure over the 3-way union, " +
    "including a batch-2 pair welding two clusters batch 1 created " +
    "(r13 verdict #6)") {
    import spark.implicits._
    // corpus: components {0,2} and {10,12}, plus untouched {20,22}
    val p0 = Seq((0L, 2L), (10L, 12L), (20L, 22L)).toDF("doc_a", "doc_b")
    // batch 1 CREATES two clusters: arrival 1 extends {0,2}; arrivals
    // 31,33 mint an arrival-only cluster; arrival 41 attaches to {10,12}
    val b1 = Seq((1L, 2L), (31L, 33L), (41L, 10L)).toDF("doc_a", "doc_b")
    // batch 2 WELDS the two batch-1 clusters (31's cluster to 41's via a
    // new pair) and brings a fresh node into the {0,1,2} cluster
    val b2 = Seq((31L, 41L), (5L, 1L)).toDF("doc_a", "doc_b")
    val m0 = Components.connectedComponents(p0)
    val m1 = Dedup.mergeComponentMap(m0, b1)
    val m2 = Dedup.mergeComponentMap(m1, b2)
    val chained = m2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Components.connectedComponents(
        p0.unionByName(b1).unionByName(b2).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chained == full,
      s"chained folds must equal the 3-way union closure:\n" +
        s"chained = $chained\nfull    = $full")
    // the weld is real: batch 1 left {31,33} and {10,12,41} separate...
    val mid = m1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mid(31L) != mid(41L), s"precondition: batch 1 keeps them apart: $mid")
    // ...and batch 2's (31,41) pair welds them into one min-rooted cluster
    assert(chained(31L) == chained(41L) && chained(33L) == chained(10L) &&
      chained(10L) == 10L, s"weld must unify both batch-1 clusters: $chained")
    // untouched corpus cluster is byte-stable through both folds
    assert(chained(20L) == 20L && chained(22L) == 20L)
  }

  test("mergeComponentMap chain ≡ union closure on random batch splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val n = 40 + rnd.nextInt(40)
      def pairs(k: Int) = Seq.fill(k)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2).distinct
      val p0 = pairs(25).toDF("doc_a", "doc_b")
      val b1 = pairs(15).toDF("doc_a", "doc_b")
      val b2 = pairs(15).toDF("doc_a", "doc_b")
      val chained = Dedup.mergeComponentMap(
          Dedup.mergeComponentMap(Components.connectedComponents(p0), b1), b2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = Components.connectedComponents(
          p0.unionByName(b1).unionByName(b2).toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(chained == full, "chained folds must equal the union closure")
    }
  }

  test("clusterMerge ≡ from-scratch closure on random mixed-parity graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    (1 to 3).foreach { _ =>
      val n = 40 + rnd.nextInt(40)
      val pairs = Seq.fill(60)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2).distinct
      val all = pairs.toDF("doc_a", "doc_b")
      val merged = Dedup.clusterMergeOf(all)
        .select($"doc_id", $"cluster_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = Components.connectedComponents(all.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(merged == full,
        s"merge path must equal the union closure; pairs=$pairs")
    }
  }

  test("modularity: empty graph yields ONE (0, 0, 0) row, matching the " +
    "oracle's ungrouped aggregate (r11 ADVICE)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val labels = Seq.empty[(Long, Long)].toDF("node", "label")
    val rows = Components.modularityOf(empty, labels).collect()
    assert(rows.length == 1, s"expected one summary row, got ${rows.length}")
    val r = rows.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.getLong(2) == 0L,
      s"expected (0, 0, 0), got $r")
  }
}
