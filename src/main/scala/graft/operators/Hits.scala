package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (hubs & authorities) over a DIRECTED edge list, in exact
  * integer arithmetic. The complement to [[PageRank]]'s single score:
  * on an asymmetric graph (buyers→sellers, citers→cited, linkers→
  * linked) HITS separates the two roles — a(v) rewards being pointed
  * AT by good hubs, h(u) rewards pointing at good authorities — which
  * one symmetric-random-walk score conflates.
  *
  * Update per iteration (standard order: authorities from current
  * hubs, then hubs from the NEW authorities), with the usual L2
  * normalization replaced by exact integer max-normalization so an
  * external oracle replays it bit-for-bit:
  *   a'(v) = Σ_{(u,v)∈E} h(u);   a(v) = (1e6 · a'(v)) div max_w a'(w)
  *   h'(u) = Σ_{(u,v)∈E} a(v);   h(u) = (1e6 · h'(u)) div max_w h'(w)
  * Max-normalization keeps every score in [0, 1e6] at any iteration
  * count and preserves the RANKING, which is what HITS is for; the
  * per-round max is a one-row in-plan aggregate broadcast via cross
  * join — never a driver collect (g07's dangling-sum pattern). Exact-
  * arithmetic headroom: the unnormalized sums are ≤ 1e6·deg and the
  * renormalization multiplies by 1e6 before dividing, so int64 is safe
  * up to max in/out-degree ≈ 9.2e6 — ENFORCED by a one-time setup
  * `require` (the loud-guard convention of Sssp's negative-weight and
  * PageRank's symmetry checks); beyond that (web-scale hub pages) drop
  * the scale to 1e3 or renormalize in two steps.
  *
  * ROUND SHAPE (round 14 — the g01 treatment, r13 verdict item 1;
  * IterProbe's `hits` unroll at sf10 attributed the old wall to
  * edge-sized sort-merge joins: each half-round evaluated its
  * edge⋈score SMJ TWICE — once inside the one-row max's broadcast
  * subquery, once in the normalize join — plus, in the shipped
  * single-pin layout, an edge-sized reshuffle of the u-keyed pin onto
  * `v` every h-half-round):
  *
  *   - SETUP pins ONE narrow `(u, v)` edge copy pre-partitioned on
  *     `pinKey` plus the node-sized degree table (derived FROM the
  *     pin, so the caller's edge plan is evaluated exactly once).
  *   - Each HALF-ROUND broadcasts the node-sized score state into the
  *     pinned edges (a broadcast hash join preserves the streamed
  *     side's partitioning — [[PageRank]]'s proven round shape). The
  *     half-round whose groupBy key IS `pinKey` aggregates entirely
  *     in place — one stage, zero shuffle; the other half-round's
  *     groupBy moves only map-side-combined partials, bounded by
  *     partitions × |that side's nodes|, never edge-sized. The raw
  *     sum is lineage-cut BEFORE normalization, so the one-row max
  *     and the normalize join both read the node-sized cut — the
  *     edge scan happens ONCE per half-round, with zero edge shuffle.
  *   - `pinKey` should be the side with MORE distinct nodes: its
  *     half-round is the zero-shuffle one AND the other half-round's
  *     partial-combine output is bounded by the SMALLER side. For
  *     g10's customers→suppliers graph that is `u` (the default).
  *
  * The broadcast state is node-sized, so past `broadcastScoreMax`
  * nodes (default 32M ≈ 1-2 GB of broadcast relation, [[PageRank]]'s
  * `broadcastRankMax` doctrine) the loop falls back to the r13
  * shuffle shape: edge⋈score sort-merge joins against ONE u-keyed
  * edge pin, which the h-half-round's join reshuffles onto `v` (a
  * second, v-keyed pin measured slower at sf10 over 2 rounds: 255 s
  * against 211 s, GROWTH_r10). The fallback does not cut raw sums.
  * Results are IDENTICAL across layouts (same joins, same arithmetic)
  * — spec-pinned bit-identical in HitsSpec.
  *
  * Rounds run on [[Fixpoint]]; score state is cut per half-round.
  */
object Hits {

  /** @param edges directed long columns `u` (src) and `v` (dst)
    * @param tol   0 (default) = exactly `iterations` rounds, the
    *              oracle-replayable surface. tol > 0 = stop at the
    *              first round where BOTH max|Δa| ≤ tol AND
    *              max|Δh| ≤ tol (e6 score units), `iterations` as the
    *              cap — [[PageRank]]'s tolerance contract (two one-row
    *              deltas per round; 16 bytes of driver metadata).
    *              Spec-pinned: tol=0 ≡ fixed rounds, tol runs return
    *              their stopping round's fixed-round state exactly.
    * @param pinKey "u" (default) or "v": the edge pin's partitioning
    *              key in broadcast mode. Pick the side with MORE
    *              distinct nodes (scaladoc above). The fallback
    *              reads a u-keyed pin either way.
    * @param broadcastScoreMax node-count ceiling for the zero-edge-
    *              shuffle broadcast round shape; past it the loop uses
    *              the r13 shuffle shape. 0 forces the fallback (the
    *              spec's equivalence knob).
    * @return columns `node`, `hub_e6`, `auth_e6` for every node
    *         appearing in the edge list (either side) */
  def scores(edges: DataFrame, iterations: Int,
      checkpointDir: Option[String] = None,
      tol: Long = 0L,
      pinKey: String = "u",
      broadcastScoreMax: Long = 32000000L): DataFrame =
    // score STATES rotate through the r13 window — h/a interleave
    // through one keep=2 FIFO (a(n-1) is released when a(n) cuts, by
    // which point h(n-1..n) were already materialized from it);
    // tolerance mode keeps THREE generations because the Δa delta reads
    // a(n-1) AFTER a(n) cuts
    Fixpoint.run(edges.sparkSession, "hits", checkpointDir, iterations,
        capIsConvergence = tol > 0L, keep = if (tol > 0L) 3 else 2) { lc =>
      require(tol >= 0L, s"tol must be ≥ 0 (got $tol)")
      require(pinKey == "u" || pinKey == "v",
        s"pinKey must be 'u' or 'v' (got '$pinKey')")
      // broadcast mode's RAW SUMS get their own keep=1 rotation: a sum
      // is dead the moment its normalized state materializes, and
      // mixing the two lifetimes in one FIFO would either release the
      // final a-state before the output join reads it (keep=2) or hold
      // edge-adjacent generations longer than needed (keep=5)
      val lcSum = new LineageCut(checkpointDir, keep = 1)
      val e = edges.select(col("u"), col("v"))
      // the ONE edge pin, pre-partitioned on pinKey; the caller's edge
      // plan is evaluated exactly once, into this cut. The fallback
      // derives its u-keyed pin FROM it when pinKey = "v" (a
      // checkpoint-to-checkpoint repartition, never a second caller-
      // plan run).
      val pinned = lc.pin(e.repartition(col(pinKey)))
      // node set and total degree (in+out, bag union) come from ONE
      // grouped aggregate over the checkpointed copy — the count rides
      // the same shuffle the distinct node set needs anyway, so the
      // overflow guard below costs one node-sized agg over checkpointed
      // edges instead of a second evaluation of the caller's plan
      val grouped = lc.pin(pinned.select(col("u").as("node"))
        .union(pinned.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d")))
      val nodes = grouped.select(col("node"))
      // one setup job reads both the overflow guard's max degree and
      // the node count that picks the round shape
      val stats = grouped
        .agg(coalesce(max("d"), lit(0L)).as("m"), count(lit(1)).as("n"))
        .head
      val (maxDeg, nNodes) = (stats.getLong(0), stats.getLong(1))
      // loud int64-headroom guard (scaladoc above): scores are ≤ 1e6
      // after max-normalization, so an unnormalized sum is ≤ 1e6·degree
      // and the renormalization multiplies by 1e6 again — silent
      // wraparound above in/out-degree ~9.2e6. Total degree bounds both
      // roles; degrees are round-invariant so this never re-runs inside
      // the loop.
      require(maxDeg <= 9200000L,
        s"Hits exact int64 arithmetic overflows above in/out-degree ~9.2e6 " +
          s"(found a node with total degree $maxDeg); drop the score scale " +
          "to 1e3 or renormalize in two steps — see scaladoc")
      val bcast = nNodes <= broadcastScoreMax
      // the edges both half-rounds read: broadcast mode streams the one
      // pinKey pin; the shuffle fallback (node count above
      // broadcastScoreMax) joins against the u-keyed pin and lets the
      // h-half-round's SMJ reshuffle it onto v
      val ed =
        if (bcast || pinKey == "u") pinned
        else lc.pin(pinned.repartition(col("u")))
      // one-row max|Δ| between two adjacent score states (tol mode only)
      def delta(cur: DataFrame, prev: DataFrame, c: String): Long =
        cur.select(col("node"), col(c))
          .join(prev.select(col("node"), col(c).as("p")), "node")
          .agg(coalesce(max(abs(col(c) - col("p"))), lit(0L)).as("d"))
          .head.getLong(0)
      // raw per-half-round sum Σ score over the edge pin, keyed by the
      // OTHER side. Broadcast mode: BHJ of the node-sized state into
      // the pin (partitioning-preserving, zero edge shuffle; the
      // groupBy either reuses the pin's partitioning outright or moves
      // map-side-combined partials), cut so normalize reads blocks.
      // Fallback: the r13 edge⋈score SMJ, uncut.
      def sumInto(state: DataFrame, stateCol: String,
          joinKey: String, groupKey: String): DataFrame = {
        val s = state.select(col("node").as(joinKey), col(stateCol))
        val joined =
          if (bcast) ed.join(broadcast(s), joinKey)
          else ed.join(s, joinKey)
        val raw = joined.groupBy(col(groupKey))
          .agg(sum(stateCol).as("s"))
          .select(col(groupKey).as("node"), col("s"))
        if (bcast) lcSum(raw) else raw
      }
      // normalize a raw sum to (1e6 · s) div max(s) over the full node
      // set (nodes absent from the sum score 0). The one-row max
      // subquery and the outer join each evaluate `raw` once — in
      // broadcast mode that is a node-sized lineage CUT, so both reads
      // hit checkpointed blocks and the edge scan stays at once per
      // half-round (the r13 shape evaluated the edge-sized SMJ sum
      // twice here); the fallback keeps r13's double evaluation, its
      // cost model unchanged (cutting only a was measured SLOWER at
      // sf0.1, warm min 5.9 s vs 3.8 s).
      def normalize(raw: DataFrame, outCol: String): DataFrame = {
        val m = raw.agg(max("s").as("m"))
        lc(nodes
          .join(if (bcast) broadcast(raw) else raw, Seq("node"), "left")
          .crossJoin(broadcast(m))
          .select(col("node"),
            expr("CAST((1000000 * coalesce(s, 0L)) div m AS BIGINT)")
              .as(outCol)))
      }
      Fixpoint.loop((nodes.withColumn("h", lit(1000000L)),
          nodes.withColumn("a", lit(1000000L)))) { case ((h, a), _) =>
        val aNext = normalize(sumInto(h, "h", "u", "v"), "a")
        // Δa must read a(n-1) HERE, before the h-half-round's cut
        // rotates it out of the keep=3 window
        val dA = if (tol > 0L) delta(aNext, a, "a") else Long.MaxValue
        val hNext = normalize(sumInto(aNext, "a", "v", "u"), "h")
        ((hNext, aNext),
          tol > 0L && dA <= tol && delta(hNext, h, "h") <= tol)
      } { case ((h, a), _) =>
        h.join(a, "node")
          .select(col("node"), col("h").as("hub_e6"), col("a").as("auth_e6"))
      }
    }
}
