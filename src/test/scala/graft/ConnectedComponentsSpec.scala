package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Graft._

/** connectedComponents: min-label propagation + pointer jumping over an
  * edge list. Ground truth below is a driver-side union-find — the spec
  * checks the distributed answer on shapes that stress the algorithm:
  * long chains (diameter >> a naive round budget), dense cliques,
  * star graphs, a seeded random graph, and duplicate and reversed edges.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)], maxIter: Int = 50): Map[Long, Long] =
    edges.toDF("a", "b").connectedComponents("a", "b", maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def bruteCc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id canonical labels
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }.toMap
  }

  test("long chain converges within a logarithmic round budget") {
    // 300-node path: naive min-propagation needs 299 rounds; pointer
    // jumping must close it within the default cap of 50
    val edges = (0L until 299L).map(i => (i, i + 1))
    val got = cc(edges)
    assert(got.size == 300)
    assert(got.values.toSet == Set(0L), "all chain nodes label to min id 0")
  }

  test("disjoint cliques and an isolated pair keep separate labels") {
    val cliqueA = for (i <- 10L to 14L; j <- 10L to 14L if i < j) yield (i, j)
    val cliqueB = for (i <- 20L to 24L; j <- 20L to 24L if i < j) yield (i, j)
    val got = cc(cliqueA ++ cliqueB ++ Seq((99L, 98L)))
    assert((10L to 14L).forall(got(_) == 10L))
    assert((20L to 24L).forall(got(_) == 20L))
    assert(got(98L) == 98L && got(99L) == 98L)
  }

  test("transitive chains collapse (A~B, B~C, no A~C edge)") {
    val got = cc(Seq((1L, 2L), (2L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("matches driver-side union-find on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(400)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2)
    assert(cc(edges) == bruteCc(edges))
  }

  test("duplicate and reversed edges label like the de-duplicated pair list") {
    // every pair appears verbatim more than once and in both
    // orientations — the shape a symmetrized union without distinct()
    // would feed the propagation loop
    val rnd = new scala.util.Random(7)
    val unique = Seq.fill(150)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2).distinct
    val noisy = rnd.shuffle(unique ++ unique ++ unique.map(_.swap))
    val got = cc(noisy)
    assert(got == cc(unique))
    assert(got == bruteCc(unique))
  }

  test("empty edge list returns an empty frame") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("convergence check rides the jump pass — no separate count action per round") {
    // the changed-label count is observe()d during the loopState
    // materialization; a regression back to a per-round `count()` job
    // doubles the loop's action count at scale. QueryExecutionListener
    // records every action's funcName: only the localCheckpoint (or
    // checkpoint) materializations may appear while the loop runs.
    val funcs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        funcs.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val edges = (0L until 63L).map(i => (i, i + 1))
      val got = edges.toDF("a", "b").connectedComponents("a", "b")
      // force full loop execution before inspecting (collect is OUTSIDE
      // the loop and registers as its own funcName)
      assert(got.collect().length == 64)
      // listener delivery is async — wait for the materializations
      val deadline = System.nanoTime() + 5000000000L
      while (!funcs.contains("localCheckpoint") && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(funcs.contains("localCheckpoint"), s"expected loopState actions, saw $funcs")
      assert(!funcs.contains("count"),
        s"a per-round count() action is back on the CC loop: $funcs")
    } finally spark.listenerManager.unregister(listener)
  }

  test("dedupNearDuplicates keeps one doc per near-dup cluster, passes singletons") {
    // three exact-ish families (identical text => jaccard 1.0 across
    // every minhash band) + two distinct singletons
    val mk = (id: Long, seed: Int) =>
      (id, (0 until 40).map(i => s"w${(i * seed) % 97}").mkString(" "))
    val docsDf = (Seq(mk(1L, 3), mk(2L, 3), mk(3L, 3), // cluster min 1
      mk(10L, 5), mk(11L, 5), // cluster min 10
      mk(20L, 7), mk(30L, 11))) // singletons
      .toDF("doc_id", "text")
    val kept = docsDf.dedupNearDuplicates("doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 20L, 30L))
  }
}
