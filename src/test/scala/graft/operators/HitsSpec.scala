package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.mr.SparkTestSession

class HitsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def scores(edges: Seq[(Long, Long)],
      iters: Int): Map[Long, (Long, Long)] =
    Hits.scores(edges.toDF("u", "v"), iters)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  // fan-out 1→2, 1→3: node 1 is the only hub, 2 and 3 the authorities
  private val fan = Seq((1L, 2L), (1L, 3L))

  test("hand-computed round on a fan-out: pure hub vs pure authorities") {
    // a': 2=1e6, 3=1e6 (from h0=1e6), max=1e6 → a(2)=a(3)=1e6, a(1)=0
    // h': 1=a(2)+a(3)=2e6, max=2e6 → h(1)=1e6, h(2)=h(3)=0
    assert(scores(fan, 1) === Map(
      1L -> ((1000000L, 0L)),
      2L -> ((0L, 1000000L)),
      3L -> ((0L, 1000000L))))
    // the fan is already at the fixpoint — iteration 2 must not move it
    assert(scores(fan, 2) === scores(fan, 1))
  }

  test("chain 1→2→3: middle node is both hub and authority") {
    // a': 2=1e6, 3=1e6, max 1e6 → a=(0,1e6,1e6)
    // h': 1=a(2)=1e6, 2=a(3)=1e6, max 1e6 → h=(1e6,1e6,0)
    assert(scores(Seq((1L, 2L), (2L, 3L)), 1) === Map(
      1L -> ((1000000L, 0L)),
      2L -> ((1000000L, 1000000L)),
      3L -> ((0L, 1000000L))))
  }

  test("stronger hub wins: two hubs, one covering more authorities") {
    // 1→{2,3,4}, 5→{2}: a all = 2e6|1e6... round 1:
    // a': 2=h(1)+h(5)=2e6, 3=1e6, 4=1e6; max 2e6 → a=(2:1e6, 3:5e5, 4:5e5)
    // h': 1=1e6+5e5+5e5=2e6, 5=1e6; max 2e6 → h(1)=1e6, h(5)=5e5
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 2L))
    val got = scores(g, 1)
    assert(got(1L)._1 === 1000000L && got(5L)._1 === 500000L)
    assert(got(2L)._2 === 1000000L && got(3L)._2 === 500000L)
  }

  test("results are partitioning-independent") {
    val df = fan.toDF("u", "v").repartition(7)
    val got = Hits.scores(df, 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === scores(fan, 2))
  }

  test("reliable checkpoint mode: identical scores, files on disk") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hits-ckpt")
    val reliable = Hits
      .scores(fan.toDF("u", "v"), 2, checkpointDir = Some(ckpt.toString))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(reliable === scores(fan, 2),
      "reliable-checkpoint mode changed the answer")
    assert(java.nio.file.Files.list(ckpt).count() > 0,
      "checkpoint dir is empty — rounds did not go through the reliable path")
  }

  test("all layouts bit-identical: broadcast (pinKey u and v) and fallback") {
    // broadcastScoreMax=0 forces the r13 shuffle fallback (the spec's
    // equivalence knob, PageRank's broadcastRankMax doctrine). Both are
    // pure physical-layout choices that must never move a score. Run on
    // the graph whose round-1 scores are asymmetric (two-hub) at two
    // round counts, plus the pinKey="v" orientation of the broadcast pin.
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 2L))
    def run(iters: Int, bmax: Long,
        key: String = "u"): Map[Long, (Long, Long)] =
      Hits.scores(g.toDF("u", "v"), iters,
          broadcastScoreMax = bmax, pinKey = key)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    for (iters <- Seq(1, 3)) {
      val bcastU = scores(g, iters) // default: broadcast mode, pinKey=u
      assert(run(iters, bmax = 0L) === bcastU,
        s"fallback single-pin diverged from broadcast at iterations=$iters")
      assert(run(iters, bmax = Long.MaxValue, key = "v") === bcastU,
        s"broadcast pinKey=v diverged from pinKey=u at iterations=$iters")
    }
  }

  test("tol mode in the fallback layout matches broadcast-mode tol") {
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 2L))
    val bcast = Hits.scores(g.toDF("u", "v"), 20, tol = 2000L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val fb = Hits.scores(g.toDF("u", "v"), 20, tol = 2000L,
        broadcastScoreMax = 0L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fb === bcast, "fallback tol run diverged from broadcast tol run")
  }

  test("tol=0 ≡ fixed rounds (the oracle-replayable surface, unchanged)") {
    val got = Hits.scores(fan.toDF("u", "v"), 2, tol = 0L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === scores(fan, 2))
  }

  test("tol mode stops at the convergence round, not before or never") {
    // fan hits its fixpoint after round 1, so the tol run's round-2
    // deltas are 0 and a 10-round cap must return the round-1 state
    // (early stop FIRES — a broken stop would be equal too, which is
    // why the second graph below is the real power of this test)
    val fanTol = Hits.scores(fan.toDF("u", "v"), 10, tol = 1L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fanTol === scores(fan, 1))
    // two-hub graph converges later: walk the engine's fixed-round
    // trajectory, find the first adjacent pair whose max per-node
    // |Δhub|/|Δauth| is ≤ tol — EXACTLY the loop's stopping rule, so
    // delta-of-exactly-1 rounds can't skew the expectation — check the
    // trajectory actually moves first (the test has power), and pin
    // that the tol run stops exactly there
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 2L))
    val tol = 2000L
    val traj = (1 to 6).map(k => scores(g, k))
    def pairDiff(x: Map[Long, (Long, Long)],
        y: Map[Long, (Long, Long)]): Long =
      x.keys.map { n =>
        math.max(math.abs(x(n)._1 - y(n)._1), math.abs(x(n)._2 - y(n)._2))
      }.max
    val j = (0 until 5).find(j => pairDiff(traj(j), traj(j + 1)) <= tol)
      .getOrElse(fail("two-hub graph never converged within 6 rounds"))
    assert(pairDiff(traj(0), traj(j + 1)) > tol,
      "graph converges immediately — test has no power")
    val gTol = Hits.scores(g.toDF("u", "v"), 20, tol = tol)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(gTol === traj(j + 1), s"tol run did not stop at round ${j + 2}")
  }
}
