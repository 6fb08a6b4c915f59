package graft.operators

import org.apache.spark.sql.SparkSession

/** The round driver of the seven fixpoint engines ([[ConnectedComponents]],
  * [[LabelPropagation]], [[KCore]], [[Bfs]], [[Sssp]], [[PageRank]],
  * [[Hits]]): one round is one map → shuffle → reduce step, and rounds
  * are separated by an eager lineage cut — the MapReduce stage barrier.
  * An engine supplies its setup (pins), a step
  * `(state, round) => (state, stop)` and a finish; the driver owns
  * everything between them.
  *
  * CORE-TIED ROUND LAYOUT. The engine runs — setup, every round and the
  * finish — with `spark.sql.shuffle.partitions` set to
  * `defaultParallelism` (the executor-slot count), and the caller's
  * value is restored after. The session default is derived from input
  * bytes (`Verify.derivedShufflePartitions`, 75 at the sf10 fixture),
  * which suits one-pass corpus-sized shuffles; a fixpoint engine pays
  * its layout PER ROUND on node-sized state, so it takes the slot
  * count instead (8 on the ladder box, 8000 on a 1000-executor
  * cluster). Measured same-day at sf10 (GROWTH_r10, min-of-3): g10
  * 211 → 136 s, d06 27.4 → 24.8, g05 218 → 211, g01 214 → 226 (within
  * arm spread); SURVEY.md records the doctrine as settled. A dynamic
  * extent suffices because every round materializes eagerly inside it;
  * the returned DataFrame scans the final cut, so DOWNSTREAM shuffles
  * use the caller's restored layout. Known hazard, measured benign at
  * sf10: a lazy corpus-sized caller plan (d06 hands d03's pair
  * pipeline to ConnectedComponents) materializes inside the extent.
  * SQLConf is per-session and the engines are single-threaded drivers.
  *
  * LINEAGE CUTS. Each round's state is eagerly cut through the main
  * [[LineageCut]] rotation at the engine's `keep`: without the cut,
  * every round's plan embeds the previous round's and analysis cost
  * compounds with round count. `checkpointDir` picks the flavor:
  *   - None: `localCheckpoint` — executor-stored blocks, no extra I/O;
  *     right for local[n] and restartable batch, but blocks die with
  *     their executors.
  *   - Some(dir): reliable `checkpoint` into that directory — rounds
  *     survive executor loss at one write+read of the state per round;
  *     the production default at 100 TB.
  *
  * ROUND ANNOUNCEMENT. In reliable mode, each main-rotation cut a
  * round makes is announced on stderr as soon as it materializes, as
  * `[<tag>] round <n> complete: <file>` — the line
  * tools/drill_preempt.py greps, so an external supervisor can resume
  * from the last completed round after a driver loss. Announcing at cut
  * time, before the round's convergence probe, leaves the supervisor
  * the probe's window to kill a run inside the round that converges.
  * A round that cuts two tables (LabelPropagation's wins then labels,
  * Hits' a then h) prints two lines; its last line names the round's
  * final cut. `n` is `roundOffset + round`: a resume leg passes the
  * prior run's completed-round count ([[PageRank.ranks]],
  * [[ConnectedComponents.minLabel]]) so announced numbers stay
  * globally monotonic across kills. The file holds the full node-sized
  * state, so resuming from the latest one is always correct for the
  * engines with a resume surface; for the others the line is a
  * progress record. Setup cuts are not announced; local mode is silent.
  *
  * ROUND CAP. The loop ends when a step returns `stop = true` or after
  * `maxRounds` rounds. When the cap is a convergence bound
  * (`capIsConvergence`), ending on it without the stop condition
  * prints `[<tag>] stopped at round cap <n> before converging` on
  * stderr, so a capped result never passes for a converged one. Fixed-
  * round modes and semantic radii ([[Bfs]], [[Sssp]]) pass `false`.
  */
private[operators] object Fixpoint {

  /** An engine's loop after setup: the state entering round 1, the step
    * (given the state and the 1-based round number, returns the next
    * state and whether the engine's stop condition holds), and the
    * finish (given the final state and whether the loop stopped before
    * the cap). */
  final class Loop[S, R](val init: S,
      val step: (S, Int) => (S, Boolean), val finish: (S, Boolean) => R)

  def loop[S, R](init: S)(step: (S, Int) => (S, Boolean))(
      finish: (S, Boolean) => R): Loop[S, R] = new Loop(init, step, finish)

  def run[S, R](spark: SparkSession, tag: String,
      checkpointDir: Option[String], maxRounds: Int,
      capIsConvergence: Boolean, keep: Int = 2, roundOffset: Int = 0)(
      setup: LineageCut => Loop[S, R]): R = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, spark.sparkContext.defaultParallelism.toString)
    try {
      var round = 0
      val lc = new LineageCut(checkpointDir, keep, cut =>
        if (round > 0) cut.getCheckpointFile.foreach { f =>
          System.err.println(
            s"[$tag] round ${roundOffset + round} complete: $f")
        })
      val l = setup(lc)
      var state = l.init
      var stop = false
      while (!stop && round < maxRounds) {
        round += 1
        val (next, done) = l.step(state, round)
        state = next
        stop = done
      }
      if (!stop && capIsConvergence)
        System.err.println(
          s"[$tag] stopped at round cap $maxRounds before converging")
      l.finish(state, stop)
    } finally spark.conf.set(key, prev)
  }
}
