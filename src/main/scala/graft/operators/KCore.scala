package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed k-core decomposition by iterative peeling — the graph
  * analogue of "drop the thin tail": repeatedly remove every node with
  * degree < k (and its edges) until no such node remains; the surviving
  * subgraph is the k-core. The standard density/robustness primitive
  * for community mining, spam-graph trimming, and picking well-connected
  * seed sets before expensive per-node analytics.
  *
  * ROUND SHAPE (round 12 — rebuilt from the sf10 peel profile, r11
  * verdict item 1). The instrumented cascade at sf10 (the round-12
  * IterProbe unroll: 117.4M symmetric edges, 1.596M nodes, k=8)
  * retired the long-tail hypothesis: the peel converges in TWO rounds —
  * round 0 removes ~3k nodes / 42k edges, round 1 removes nothing — yet the
  * old loop paid 84–151 s PER ROUND because every round ran two
  * edge-sized shuffles (semi-join on v + repartition back to u) and
  * the convergence round re-ran the whole peel join just to count
  * identical edges. Two structural fixes:
  *
  *  1. CONVERGENCE BY DROP-COUNT: each round first aggregates degrees
  *     (node-sized, shuffle-free — the edge relation stays hash-
  *     partitioned on u across rounds) and counts the nodes below k.
  *     Zero drops ⇒ fixpoint, loop exits WITHOUT building the peel
  *     join at all — the old design's final 150 s round becomes a
  *     ~3 s degree check.
  *  2. ADAPTIVE PEEL: the measured per-round drop set is tiny after
  *     the graph's thin fringe goes (3k of 1.6M nodes at sf10), so
  *     the peel anti-joins `cur` against a BROADCAST drop set on both
  *     endpoints — a narrow map over the edge blocks, ZERO shuffle,
  *     and the u-partitioning survives into the next round's degree
  *     aggregation. When a round drops more nodes than
  *     `broadcastDropMax` (a sparse graph's first round can shed a
  *     large fraction), the peel falls back to the shuffle-safe
  *     keep-set semi-joins + repartition — never an unbounded
  *     broadcast. 4M node ids ≈ 32 MB broadcast is the default bound.
  *
  * Rounds run on [[Fixpoint]]: each round's surviving edges are eagerly
  * cut, `checkpointDir` picks local or reliable cuts.
  */
object KCore {

  /** Past this many dropped nodes in one round, the peel uses the
    * shuffle semi-join path instead of a broadcast anti-join (~8 B per
    * id ⇒ ~32 MB at the bound — comfortably inside executor broadcast
    * budgets at 1000-executor scale, and a bound a caller can lower
    * for memory-tight clusters). */
  val DefaultBroadcastDropMax = 4000000L

  /** The k-core of the undirected graph given by the SYMMETRIC edge
    * list `edges` (numeric columns u, v; both directions present, as
    * produced by the g01/g05 trade-graph builders). Returns
    * (node, core_deg): the surviving nodes with their degree counted
    * inside the core subgraph. Fixpoint is reached when a round drops
    * no node; `maxRounds` only bounds pathological chains.
    *
    * @param checkpointDir when set, per-round lineage cuts go through
    *                      reliable `checkpoint` into this directory
    *                      (survives executor loss) instead of
    *                      `localCheckpoint`
    * @param broadcastDropMax per-round dropped-node count above which
    *                      the peel switches from the broadcast
    *                      anti-join to the shuffle semi-join path */
  def core(edges: DataFrame, k: Int, maxRounds: Int = 50,
      checkpointDir: Option[String] = None,
      broadcastDropMax: Long = DefaultBroadcastDropMax): DataFrame =
    Fixpoint.run(edges.sparkSession, "kcore", checkpointDir, maxRounds,
        capIsConvergence = true) { lc =>
      // the per-round drop set is cut through its OWN keep=1 rotation:
      // materialized once, then read (for free) by the count and both
      // broadcast builds — without the cut each of those would re-scan
      // the edge relation to recompute the aggregation. Safe at keep=1:
      // by the time round n+1's drop set cuts, round n's `next` was
      // already materialized from round n's drops.
      val lcDrops = new LineageCut(checkpointDir, keep = 1)
      Fixpoint.loop(
          lc(edges.select(col("u"), col("v")).repartition(col("u")))) {
          (cur, _) =>
        // node-sized degree table; cur is hash-partitioned on u (the
        // initial repartition survives every peel variant below), so
        // this aggregation plans WITHOUT an Exchange
        val deg = cur.groupBy("u").agg(count(lit(1)).as("deg"))
        val drops = lcDrops(deg.filter(col("deg") < k).select("u"))
        val nDrop = drops.count()
        if (nDrop == 0L) (cur, true)
        else if (nDrop <= broadcastDropMax)
          // tiny drop set (the steady-state case the sf10 profile
          // measured): anti-join BOTH endpoints against the broadcast
          // set — no shuffle, partitioning preserved
          (lc(cur
            .join(broadcast(drops), Seq("u"), "left_anti")
            .join(broadcast(drops.withColumnRenamed("u", "v")),
              Seq("v"), "left_anti")
            .select(col("u"), col("v"))), false)
        else {
          // mass-shedding round: keep-set semi-joins (shuffle-bounded
          // by the surviving edges), then restore the u-partitioning
          // the loop relies on
          val keep = deg.filter(col("deg") >= k).select("u")
          (lc(cur
            .join(keep, Seq("u"), "left_semi")
            .join(keep.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
            .select(col("u"), col("v")).repartition(col("u"))), false)
        }
      } { (cur, _) =>
        cur.groupBy(col("u").as("node")).agg(count(lit(1)).as("core_deg"))
      }
    }
}
