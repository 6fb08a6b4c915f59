package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Semi-supervised label propagation with clamped labels and convergence
  * detection — the fixpoint twin of the 2-round unroll in
  * g06_label_propagation (GraphPack), promoted to an `operators/` loop
  * with the same contract as [[ConnectedComponents]] / [[KCore]].
  *
  * Semantics (identical per round to g06): a node that already has a
  * label keeps it forever (seeds and previously-won labels are CLAMPED);
  * each round, every still-unlabeled neighbor of a labeled node takes
  * the majority label among its labeled in-neighbors, ties broken by the
  * SMALLEST label — deterministic, unlike textbook random tie-breaks.
  * Convergence: the frontier is monotone (labels only ever grow), so the
  * loop stops the first round that wins no new node, or at
  * `maxIterations`.
  *
  * Shape per round — all keyed on node id, never all-pairs:
  * one edges⋈labels equi-join shuffled on node, one (node,label) count
  * aggregate (partial map-side), one node-partitioned argmax window.
  * Rounds run on [[Fixpoint]]: each round's win and label tables are
  * eagerly cut, `checkpointDir` picks local or reliable cuts.
  */
object LabelPropagation {

  /** Propagate `seeds` (node, label) over `edges` (src, dst — directed
    * as given; pass a symmetrized list for undirected semantics).
    * Returns (node, label) for every labeled node: all seeds plus every
    * node reached by propagation. Callers must supply at most one label
    * per seed node (duplicate seed nodes make the vote ill-defined).
    *
    * @param checkpointDir when set, per-round lineage cuts go through
    *                      reliable `checkpoint` into this directory
    *                      (survives executor loss) instead of
    *                      `localCheckpoint`
    * @param minDelta      measured-convergence mode (round 11, the
    *                      PageRank/HITS `tol` analogue for a frontier
    *                      engine): stop as soon as a round wins ≤
    *                      `minDelta` NEW nodes. 0 (default) is the
    *                      exact fixpoint — identical output to every
    *                      prior round, spec-pinned. A 100 TB production
    *                      run sets this to a small fraction of the node
    *                      count: the frontier is monotone, so late
    *                      rounds label a long thin tail (graph
    *                      periphery) at one full edges⋈labels shuffle
    *                      per round — the same diminishing-returns
    *                      shape tol cuts off in the score engines. The
    *                      result is a documented UNDER-labeling (the
    *                      unreached tail stays unlabeled); won labels
    *                      are exact either way because clamping makes
    *                      every emitted label final the round it wins. */
  def propagate(edges: DataFrame, seeds: DataFrame,
      maxIterations: Int = 50,
      checkpointDir: Option[String] = None,
      minDelta: Long = 0L): DataFrame =
    // won/labels interleave through one keep=2 rotation — labels(n-1) is
    // released when labels(n) cuts, by which point won(n) and labels(n)
    // were already materialized from it. Only exact-fixpoint mode
    // reports a capped run: minDelta > 0 already documents its
    // under-labeling
    Fixpoint.run(edges.sparkSession, "labelprop", checkpointDir,
        maxIterations, capIsConvergence = minDelta == 0L) { lc =>
      // pre-partitioned on the per-round join key (the g01 hoist): each
      // round's e⋈labels join reshuffles only the label table
      val e = edges.toDF("u", "v").repartition(col("u"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      Fixpoint.loop(lc(seeds.toDF("node", "label"))) { (labels, _) =>
        val won = lc(round(e, labels))
        // fixpoint mode keeps the cheap emptiness probe; delta mode
        // counts the (already checkpointed) win table — one scan of
        // node-sized state, dwarfed by the round's edge join
        val nWon =
          if (minDelta == 0L) won.limit(1).count()
          else won.count()
        (if (nWon > 0L) lc(labels.union(won)) else labels, nWon <= minDelta)
      } { (labels, _) =>
        e.unpersist()
        labels
      }
    }

  /** One propagation round: (node, label) wins among the still-unlabeled
    * neighbors of labeled nodes. Exposed (package-private) so plan
    * audits can pin the EXACT per-round dataflow the loop runs — the
    * eager lineage cuts make it invisible in the final plan.
    * `e` must have columns (u, v), `labels` (node, label). */
  private[graft] def round(e: DataFrame, labels: DataFrame): DataFrame = {
    val votes = e
      .join(labels, e("u") === labels("node"))
      .select(e("v").as("cand"), labels("label"))
      .join(labels.select(col("node").as("seen")),
        col("cand") === col("seen"), "left_anti")
      .groupBy("cand", "label").agg(count(lit(1)).as("n"))
    votes
      .withColumn("rk", row_number().over(Window.partitionBy(col("cand"))
        .orderBy(col("n").desc, col("label"))))
      .filter(col("rk") === 1)
      .select(col("cand").as("node"), col("label"))
  }
}
