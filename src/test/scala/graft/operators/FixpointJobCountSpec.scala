package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.mr.SparkTestSession

/** Pins the Spark job count of one run of each fixpoint engine on one
  * fixed small graph, in both cut modes: `(built, collected)` = jobs
  * launched while the engine constructs its result (eager rounds,
  * cuts, probes) and jobs launched by collecting that result. A change
  * to the shared round driver that slips an extra probe or cut into
  * every round moves these numbers; a change that removes per-round
  * jobs on purpose updates them here, with the reason.
  *
  * `SPARK_GRAFT_CHECKPOINT_DIR` flips `checkpointDir = None` to
  * reliable mode (see [[LineageCut]]), so the "local" expectation is
  * the reliable one whenever that variable is set. */
class FixpointJobCountSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val ambientReliable =
    sys.env.contains("SPARK_GRAFT_CHECKPOINT_DIR")

  private def jobsOf(body: => DataFrame): (Int, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    ListenerShim.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val df = body
      ListenerShim.waitUntilEmpty(sc)
      val built = n.get
      df.collect()
      ListenerShim.waitUntilEmpty(sc)
      (built, n.get - built)
    } finally sc.removeSparkListener(listener)
  }

  /** Run `engine` once per cut mode and compare against the pinned
    * `(built, collected)` pairs. */
  private def pin(local: (Int, Int), reliable: (Int, Int))(
      engine: Option[String] => DataFrame): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs")
    val gotLocal = jobsOf(engine(None))
    val gotReliable = jobsOf(engine(Some(dir.toString)))
    assert(gotLocal === (if (ambientReliable) reliable else local),
      "job count (built, collected) moved with checkpointDir = None")
    assert(gotReliable === reliable,
      "job count (built, collected) moved with checkpointDir = Some(dir)")
  }

  private def sym(edges: Seq[(Long, Long)]): DataFrame = {
    val e = edges.toDF("u", "v")
    e.union(e.select($"v".as("u"), $"u".as("v")))
  }

  // path 1-2-3-4 plus a separate pair: 4 rounds, the last one the
  // unchanged-label round
  private val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
  // triangle 1-2-3 with a pendant chain 3-4-5: k=2 peels 5, then 4
  private val tailed = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
  // two hubs over three authorities (HitsSpec's asymmetric graph)
  private val twoHub = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 2L))

  test("ConnectedComponents.minLabel job count") {
    pin(local = (24, 1), reliable = (29, 1)) { dir =>
      ConnectedComponents.minLabel(path.toDF("a", "b"), checkpointDir = dir)
    }
  }

  test("LabelPropagation.propagate job count") {
    pin(local = (32, 1), reliable = (36, 1)) { dir =>
      LabelPropagation.propagate(path.toDF("u", "v"),
        Seq((1L, 7L), (10L, 8L)).toDF("node", "label"), checkpointDir = dir)
    }
  }

  test("KCore.core job count") {
    pin(local = (20, 2), reliable = (26, 2)) { dir =>
      KCore.core(sym(tailed), 2, checkpointDir = dir)
    }
  }

  test("Bfs.hops job count") {
    pin(local = (25, 1), reliable = (30, 1)) { dir =>
      Bfs.hops(path.toDF("u", "v"), Seq(1L).toDF("node"), 10,
        checkpointDir = dir)
    }
  }

  test("Sssp.distances job count") {
    pin(local = (27, 1), reliable = (32, 1)) { dir =>
      Sssp.distances(Seq((1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 20L),
        (3L, 4L, 1L)).toDF("u", "v", "w"), Seq(1L).toDF("node"), 10,
        checkpointDir = dir)
    }
  }

  test("PageRank.ranks job count: symmetric, teleport, dangling, tol") {
    pin(local = (21, 1), reliable = (26, 1)) { dir =>
      PageRank.ranks(sym(tailed), 3, checkpointDir = dir,
        trustSymmetry = true)
    }
    pin(local = (31, 1), reliable = (35, 1)) { dir =>
      PageRank.ranks(sym(tailed), 3, checkpointDir = dir,
        teleportTo = Some(Seq(1L, 5L).toDF("node")), trustSymmetry = true)
    }
    pin(local = (37, 1), reliable = (41, 1)) { dir =>
      PageRank.ranks(tailed.toDF("u", "v"), 3, checkpointDir = dir,
        redistributeDangling = true)
    }
    pin(local = (178, 1), reliable = (166, 1)) { dir =>
      PageRank.ranks(sym(tailed), 20, checkpointDir = dir, tol = 1000L)
    }
  }

  test("Hits.scores job count: fixed rounds and tol") {
    pin(local = (48, 4), reliable = (62, 2)) { dir =>
      Hits.scores(twoHub.toDF("u", "v"), 3, checkpointDir = dir)
    }
    pin(local = (104, 4), reliable = (116, 2)) { dir =>
      Hits.scores(twoHub.toDF("u", "v"), 20, checkpointDir = dir,
        tol = 2000L)
    }
  }
}
