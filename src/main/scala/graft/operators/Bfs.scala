package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded breadth-first hop distance over a directed edge list:
  * frontier expansion with a min-hop merge each round — the other
  * canonical iterative graph primitive next to [[PageRank]] (scoring)
  * and [[ConnectedComponents]] (reachability labels).
  *
  * Exact by construction (integer hops, min-merge is order-insensitive)
  * so an external oracle can replay it as a recursive CTE. Only the
  * CURRENT frontier joins the edge list each round (rows discovered
  * last round), so per-round work is frontier × out-degree, not
  * nodes × edges; the running distance table (one row per reached
  * node) is eagerly cut per round on [[Fixpoint]]; `maxHops` is a
  * semantic radius there, so hitting it prints no cap line.
  */
object Bfs {

  /** @param edges   long columns `u` (src) and `v` (dst)
    * @param sources long column `node` — hop-0 seed set
    * @param checkpointDir when set, per-round lineage cuts go through
    *                      reliable `checkpoint` into this directory
    *                      (survives executor loss) instead of
    *                      `localCheckpoint`
    * @param requireExhausted false (default) = `maxHops` is a SEMANTIC
    *                      radius: the k-hop neighborhood is the answer
    *                      (g03's contract) and hitting the cap is
    *                      normal. true = `maxHops` is only a SAFETY
    *                      bound and the caller needs FULL reachability
    *                      ([[ClusterRepair]]'s contract — a truncated
    *                      set silently breaks its "affected set is a
    *                      union of complete components" invariant): if
    *                      the cap fires while the last frontier still
    *                      has unvisited neighbors, THROW instead of
    *                      returning a partial set. Detection is exact —
    *                      one extra expansion of the final frontier
    *                      anti-joined against the reached set, paid
    *                      only when the cap actually fires (an
    *                      early-exhausted run costs nothing extra).
    * @return columns `node`, `hop` (min hops from any source, ≤ maxHops) */
  def hops(edges: DataFrame, sources: DataFrame, maxHops: Int,
      checkpointDir: Option[String] = None,
      requireExhausted: Boolean = false): DataFrame =
    Fixpoint.run(edges.sparkSession, "bfs", checkpointDir, maxHops,
        capIsConvergence = false) { lc =>
      // pre-partitioned on the per-round join key (the g01 hoist): each
      // round's frontier⋈e join reshuffles only the frontier
      val e = lc.pin(edges.select(col("u"), col("v")).repartition(col("u")))
      Fixpoint.loop(
          lc(sources.select(col("node"), lit(0L).as("hop")).distinct())) {
          (dist, h) =>
        val frontier = dist.filter(col("hop") === (h - 1))
        // an empty frontier can never add rows — stop instead of running
        // the remaining maxHops rounds as no-ops (matters when callers
        // pass a generous bound rather than the graph's diameter)
        if (frontier.limit(1).count() == 0L) (dist, true)
        else {
          val next = frontier.join(e, frontier("node") === e("u"))
            .select(e("v").as("node"), lit(h.toLong).as("hop"))
          (lc(dist.union(next).groupBy("node").agg(min("hop").as("hop"))),
            false)
        }
      } { (dist, exhausted) =>
        // truncation guard (round 14, r13 advice): when the loop ended
        // on the round CAP rather than an empty frontier, the reachable
        // set may be incomplete — nothing in the result distinguishes
        // "done" from "stopped early". Callers that need full closure
        // opt in and get an exact check: expand the final frontier once
        // more and look for any node not already reached. Frontier-
        // sized work, only on the cap-hit path.
        if (requireExhausted && !exhausted) {
          val lastFrontier = dist.filter(col("hop") === maxHops.toLong)
          val unvisited = lastFrontier
            .join(e, lastFrontier("node") === e("u"))
            .select(e("v").as("node"))
            .join(dist, Seq("node"), "left_anti")
            .limit(1).count()
          require(unvisited == 0L,
            s"Bfs.hops(requireExhausted=true) hit the $maxHops-round cap " +
              "with unvisited neighbors remaining — the reachable set is " +
              "TRUNCATED. Raise maxHops above the graph's diameter (the " +
              "loop stops early on an empty frontier, so a generous " +
              "bound costs nothing).")
        }
        dist
      }
    }
}
