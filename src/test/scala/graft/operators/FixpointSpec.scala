package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.mr.SparkTestSession

/** Pins the stderr contracts of [[Fixpoint]]: an engine whose cap is a
  * convergence bound says so when it stops on the cap before its stop
  * condition holds, and stays silent otherwise; in reliable mode every
  * main-rotation cut of a round is announced with its round number. */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Everything `body` prints on System.err (LineageCutSpec's capture). */
  private def stderrOf(body: => DataFrame): String = {
    val baos = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(baos, true))
    try body.collect()
    finally System.setErr(realErr)
    baos.toString
  }

  private val capLine = "\\[(\\w+)\\] stopped at round cap (\\d+) before converging".r

  private def capLines(body: => DataFrame): List[(String, Int)] =
    capLine.findAllMatchIn(stderrOf(body))
      .map(m => m.group(1) -> m.group(2).toInt).toList

  private val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))

  private def announced(tag: String)(body: => DataFrame): List[Int] =
    s"\\[$tag\\] round (\\d+) complete".r.findAllMatchIn(stderrOf(body))
      .map(_.group(1).toInt).toList

  test("ConnectedComponents capped on a 4-node path prints the cap line; " +
      "a converged run prints none") {
    assert(capLines(ConnectedComponents.minLabel(path.toDF("a", "b"),
      maxIterations = 1)) === List("cc" -> 1))
    assert(capLines(ConnectedComponents.minLabel(path.toDF("a", "b")))
      === Nil)
  }

  test("KCore, LabelPropagation and tol-mode PageRank/Hits report their " +
      "cap") {
    val e = (path :+ ((4L, 5L))).toDF("u", "v")
    val sym = e.union(e.select($"v".as("u"), $"u".as("v")))
    assert(capLines(KCore.core(sym, 2, maxRounds = 1)) === List("kcore" -> 1))
    assert(capLines(LabelPropagation.propagate(path.toDF("u", "v"),
      Seq((1L, 7L)).toDF("node", "label"), maxIterations = 1))
      === List("labelprop" -> 1))
    assert(capLines(PageRank.ranks(sym, 1, tol = 1L)) ===
      List("pagerank" -> 1))
    assert(capLines(Hits.scores(path.toDF("u", "v"), 1, tol = 1L)) ===
      List("hits" -> 1))
  }

  test("fixed-round modes, minDelta mode and semantic radii print no " +
      "cap line") {
    val e = path.toDF("u", "v")
    val sym = e.union(e.select($"v".as("u"), $"u".as("v")))
    assert(capLines(PageRank.ranks(sym, 1)) === Nil)
    assert(capLines(Hits.scores(e, 1)) === Nil)
    // seeds 1 and 3 win nodes 2 and 4 in round 1: more than minDelta,
    // so the run ends on the cap, documented as under-labeling
    assert(capLines(LabelPropagation.propagate(e,
      Seq((1L, 7L), (3L, 8L)).toDF("node", "label"), maxIterations = 1,
      minDelta = 1L)) === Nil)
    assert(capLines(Bfs.hops(e, Seq(1L).toDF("node"), 1)) === Nil)
    assert(capLines(Sssp.distances(path.map { case (u, v) => (u, v, 1L) }
      .toDF("u", "v", "w"), Seq(1L).toDF("node"), 1)) === Nil)
  }

  test("reliable mode announces each round's main-rotation cuts") {
    def dir = Some(java.nio.file.Files.createTempDirectory("graft-fp").toString)
    // 4-node path: labels settle after 3 rounds, round 4 sees no change
    assert(announced("cc")(ConnectedComponents.minLabel(path.toDF("a", "b"),
      checkpointDir = dir)) === List(1, 2, 3, 4))
    // two cuts a round (a, then h); setup pins are never announced
    assert(announced("hits")(Hits.scores(path.toDF("u", "v"), 2,
      checkpointDir = dir)) === List(1, 1, 2, 2))
  }
}
