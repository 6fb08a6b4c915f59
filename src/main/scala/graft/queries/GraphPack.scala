package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over relational data: PageRank on the bipartite
  * supplier↔customer trade graph (an edge per distinct pair that traded,
  * both directions so every node has out-degree and no rank mass
  * dangles).
  *
  * Fixed 3-iteration damped PageRank in EXACT integer arithmetic
  * (ranks scaled 1e6; every divide is integer division) so DuckDB can
  * replay it bit-for-bit as unrolled CTE iterations — floating-point
  * PageRank is merge-order-dependent and never hash-stable across
  * engines. Complements `operators.ConnectedComponents` (d06): that is
  * the reachability resolver, this is the iterative-scoring shape.
  *
  * Scale posture: the edge list is `localCheckpoint`ed once and every
  * iteration is one shuffle keyed by the destination node (partial-
  * aggregated map-side); rank state is one row per node. Rounds are a
  * fixed constant, and each round's result is eagerly checkpointed so
  * the plan stays constant-size instead of compounding per iteration
  * (the classic iterative-DataFrame trap).
  */
object GraphPack extends QueryPack {

  /** One DuckDB PageRank step from CTE `prev` into CTE `out`.
    * MATERIALIZED throughout (like g05/g07/g09/g10): `edges` is
    * referenced by deg + every step, and inlined CTEs re-evaluate the
    * whole lineitem⋈orders prefix per reference — at the sf10 rung the
    * inlined form spilled DuckDB's temp storage to disk-full. */
  private def duckStep(prev: String, out: String): String =
    s"""$out AS MATERIALIZED (
       |  SELECT e.v AS node,
       |         CAST(150000 + (85 * sum(p.r // dg.d)) // 100 AS BIGINT) AS r
       |  FROM edges e
       |  JOIN deg dg ON e.u = dg.u
       |  JOIN $prev p ON p.node = e.u
       |  GROUP BY e.v)""".stripMargin

  /** Distinct supplier↔customer trade edges (u = l_suppkey,
    * v = o_custkey + 1e6), persisted and memoized per (session, dir) —
    * the derive-the-graph-ONCE discipline, cross-query edition. Ten
    * graph queries manufacture their edge list from this same
    * lineitem⋈orders DISTINCT pair set (g01/g02/g05/g06/g09/g11/g12
    * directly, g07/g10 reversed, g04 un-offset — narrow maps over the
    * cached relation), and round 9's IterProbe measured the derivation
    * at more than an engine's entire round budget at the sf10 rung —
    * re-running it per query is the cross-query twin of the per-pin
    * re-derivation fixed in [[graft.operators.Hits]] the same round.
    * At 100 TB this is a materialized intermediate edge table that a
    * SUITE of graph analytics reads, which is how a production graph
    * workload actually runs. Keyed (session, dir) like DedupPack's
    * shingle cache; [[clear]] unpins it for long-lived sessions
    * switching corpora. Engines still cut their own pre-partitioned
    * copies internally — the cache removes the relational derivation,
    * not the pins. g08 (edge WEIGHTS need the pre-distinct pair
    * multiset) and g03 (part co-occurrence graph) derive their own. */
  private val edgeCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  /** Int-pack (round 15, the r14 verdict's #1 scale item): the
    * derivation's `.distinct()` was THE one stage measured superlinear
    * at sf30 (284.8 s vs 32.9 s at sf10, 8.7× for 3× data, spill-bound
    * — every graph engine pays it before round one), and what spills
    * is the distinct's hash-aggregate + exchange over TWO long columns.
    * Packing (u, v) into ONE long before the distinct halves the
    * shuffled/spilled bytes at exactly that stage and hashes one key
    * instead of two; the unpack after is a free codegen projection.
    *
    * Domain bound (the loud-guard doctrine — Sssp's negative-weight
    * require, Hits' overflow guard): u < 2^30 and v < 2^33 keep the
    * packed value injective and positive in int64. For this data model
    * (u = l_suppkey ≈ 1e4·SF, v = o_custkey + 1e6 ≈ 1.5e5·SF) that
    * covers SF ≈ 57,000 (~57 TB); past it the pack guard raise_errors
    * PER ROW IN-PLAN (no extra pass — two compares fused into the
    * projection) instead of silently corrupting edges, and
    * SPARK_GRAFT_NO_EDGE_PACK=1 restores the two-column distinct. */
  private val PackBits = 33
  private def packGuarded(u: Column, v: Column): Column =
    when(u.cast("long") < (1L << (63 - PackBits))
        && v.cast("long") < (1L << PackBits)
        && u.cast("long") >= 0L && v.cast("long") >= 0L,
      shiftleft(u.cast("long"), PackBits) + v.cast("long"))
      .otherwise(raise_error(concat(
        lit(s"edge int-pack domain exceeded (need 0 <= u < 2^${63 - PackBits}, " +
          s"0 <= v < 2^$PackBits; got u="), u.cast("string"),
        lit(", v="), v.cast("string"),
        lit("); set SPARK_GRAFT_NO_EDGE_PACK=1 for the unpacked distinct"))
        .cast("string")).cast("long"))
  private def unpackU(uv: Column): Column = shiftright(uv, PackBits)
  private def unpackV(uv: Column): Column =
    uv.bitwiseAND(lit((1L << PackBits) - 1))
  /** Test seam (r15 ADVICE — the escape hatch the pack-guard error
    * message points users at was exercised by nothing and could rot):
    * EdgePackSpec flips this to run the unpacked path in-process, since
    * a spec cannot set SPARK_GRAFT_NO_EDGE_PACK in its own env. */
  @volatile private[graft] var forceUnpackedForTest: Boolean = false
  private def packDisabled: Boolean =
    forceUnpackedForTest ||
      sys.env.get("SPARK_GRAFT_NO_EDGE_PACK").contains("1")

  /** The UNCACHED derivation — package-visible for [[graft.IterProbe]],
    * whose whole point is to time this relational prefix separately
    * from engine setup, so it must bypass the memo but measure the SAME
    * plan the queries run (a hand-copied twin silently drifts). */
  private[graft] def deriveSupplierCustomerEdges(
      s: SparkSession, d: String): DataFrame = {
    val joined = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
    if (packDisabled)
      joined
        .select(col("l_suppkey").as("u"),
          (col("o_custkey") + lit(1000000L)).as("v"))
        .distinct()
    else
      joined
        .select(packGuarded(col("l_suppkey"),
          col("o_custkey") + lit(1000000L)).as("uv"))
        .distinct()
        .select(unpackU(col("uv")).as("u"), unpackV(col("uv")).as("v"))
  }

  /** g08's OWN derivation: the weighted (u, v, w) edge list, where the
    * weight needs the PRE-distinct pair multiset (1 + lineitem count
    * % 7) — which is exactly why it cannot ride the shared distinct
    * memo above. Package-visible for [[graft.PlanDump]] (optimization-
    * round plan evidence) like [[deriveSupplierCustomerEdges]]. */
  private[graft] def deriveWeightedEdges(
      s: SparkSession, d: String): DataFrame = {
    val joined = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
    if (packDisabled)
      joined
        .groupBy(col("l_suppkey").as("u"),
          (col("o_custkey") + lit(1000000L)).as("v"))
        .agg((lit(1L) + count(lit(1)) % 7).as("w"))
    else
      // same int-pack as the shared derivation, applied to the
      // aggregation KEY: the count-by-pair shuffle moves (uv, partial
      // count) — two longs instead of three — and hashes one key
      joined
        .groupBy(packGuarded(col("l_suppkey"),
          col("o_custkey") + lit(1000000L)).as("uv"))
        .agg((lit(1L) + count(lit(1)) % 7).as("w"))
        .select(unpackU(col("uv")).as("u"), unpackV(col("uv")).as("v"),
          col("w"))
  }

  private def supplierCustomerEdges(s: SparkSession, d: String): DataFrame =
    edgeCache.get((s, d)).getOrElse {
      // Build-then-putIfAbsent, NOT getOrElseUpdate: TrieMap's
      // getOrElseUpdate is not atomic over its builder, and the eager
      // localCheckpoint inside it materializes blocks — two threads
      // racing here would both checkpoint and the loser's pinned
      // blocks would leak for the session lifetime (clear only sees
      // the map entry). With putIfAbsent the loser's checkpoint is
      // unpersisted before its DataFrame is dropped.
      //
      // localCheckpoint, NOT persist: consumers re-scan this relation
      // many times (engines pin/repartition it, declarative queries
      // branch it), and an InMemoryRelation pays columnar
      // compression + row conversion PER SCAN — measured SLOWER than
      // re-deriving the cheap codegen join at sf0.1 (g01 warm 3.2 →
      // 5.4 s under a persist() cache). A localCheckpoint stores raw
      // UnsafeRow blocks — the same storage the engines' own pins
      // use — and scans at block-read speed.
      val built = deriveSupplierCustomerEdges(s, d).localCheckpoint(true)
      edgeCache.putIfAbsent((s, d), built) match {
        case Some(winner) => unpinCheckpoint(built); winner
        case None => built
      }
    }

  private def unpinCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = true))

  /** Drops the memoized edge relation for `session` — entries are keyed
    * (session, dir); other sessions' caches are untouched. STRONGER
    * than DedupPack.clear's unpin: that pack's persist-backed relations
    * transparently recompute after unpersist, whereas unpersisting a
    * localCheckpoint'd RDD truncates lineage — any still-held DataFrame
    * derived from the cached edge relation THROWS on its next action
    * instead of recomputing. Callers must not hold graph-query
    * DataFrames across a clear; re-request them (the next call
    * re-derives and re-pins). */
  def clear(session: SparkSession): Unit =
    edgeCache.keys.filter(_._1 eq session).foreach { k =>
      edgeCache.remove(k).foreach(unpinCheckpoint)
    }

  /** g11's community labeling, factored so PlanSpec can pin its
    * broadcast shape DIRECTLY (round 15): the query cuts this
    * relation (it feeds both m2 and the per-community aggregate), so
    * the two BroadcastHashJoins no longer appear in g11's final plan —
    * the pin moved here, the same way the PQ pipeline's shapes are
    * audited at the stage, not per consuming query. Projects down to
    * (cu, cv) before the cut so the materialized rows carry the two
    * community ids only (guide §2.3 — narrower cut bytes). */
  private[graft] def g11LabeledEdges(edges: DataFrame,
      comm: DataFrame): DataFrame =
    edges
      .join(broadcast(comm).withColumnRenamed("node", "u"), "u")
      .withColumnRenamed("c", "cu")
      .join(broadcast(comm.withColumnRenamed("node", "v")
        .withColumnRenamed("c", "cv")), "v")
      .select(col("cu"), col("cv"))

  def queries: Seq[(String, Q)] = Seq(
    "g01_pagerank" -> Q(
      run = (s, d) => {
        val e0 = supplierCustomerEdges(s, d)
        val edges = e0
          .union(e0.select(col("v").as("u"), col("u").as("v")))
        // trustSymmetry opt-in (round 15, the r14 advice): THIS call
        // site constructs the symmetric union two lines up, so the
        // column-swap destination pin is justified exactly here
        graft.operators.PageRank.ranks(edges, 3, trustSymmetry = true)
          .select(col("node"), col("r").as("rank_e6")).orderBy("node")
      },
      oracle = Some(s"""
        WITH e0 AS MATERIALIZED (
          SELECT DISTINCT l_suppkey AS u, o_custkey + 1000000 AS v
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS MATERIALIZED (
          SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        deg AS MATERIALIZED (SELECT u, count(*) AS d FROM edges GROUP BY u),
        r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
        ${duckStep("r0", "i1")},
        ${duckStep("i1", "i2")},
        ${duckStep("i2", "i3")}
        SELECT node, r AS rank_e6 FROM i3 ORDER BY node"""),
      benchIter = true),

    // ── PageRank with dangling-mass redistribution ─────────────────────
    // The GENUINELY DIRECTED variant: customer→supplier trade edges, NOT
    // symmetrized, so every supplier is a sink (no out-edges). g01's
    // contract would drop their mass (and now refuses such input with a
    // require); this exercises the operator's redistributeDangling mode —
    // each round the summed sink rank is split uniformly (dsum div N)
    // inside the same exact-integer damped update. The per-round
    // dangling sum is a one-row in-plan aggregate broadcast by cross
    // join, never a driver collect. DuckDB unrolls the same two rounds
    // with scalar subqueries for dsum and N.
    "g07_pagerank_dangling" -> Q(
      run = (s, d) => {
        val edges = supplierCustomerEdges(s, d)
          .select(col("v").as("u"), col("u").as("v"))
        graft.operators.PageRank.ranks(edges, 2, redistributeDangling = true)
          .select(col("node"), col("r").as("rank_e6")).orderBy("node")
      },
      oracle = Some {
        def step(prev: String, out: String): String =
          s"""s$out AS (
             |  SELECT coalesce(sum(p.r), 0) AS dsum
             |  FROM $prev p JOIN dang dg ON p.node = dg.node),
             |$out AS MATERIALIZED (
             |  SELECT nd.node,
             |         CAST(150000 + (85 * (coalesce(inf.s, 0)
             |           + (SELECT dsum FROM s$out) // (SELECT n FROM nn)))
             |           // 100 AS BIGINT) AS r
             |  FROM nodes nd LEFT JOIN (
             |    SELECT e.v AS node, sum(p.r // dg.d) AS s
             |    FROM e0 e JOIN deg dg ON e.u = dg.u
             |    JOIN $prev p ON p.node = e.u
             |    GROUP BY e.v) inf ON nd.node = inf.node)""".stripMargin
        s"""
        WITH e0 AS MATERIALIZED (
          SELECT DISTINCT o_custkey + 1000000 AS u, l_suppkey AS v
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        nodes AS MATERIALIZED (
          SELECT u AS node FROM e0 UNION SELECT v FROM e0),
        nn AS (SELECT count(*) AS n FROM nodes),
        deg AS (SELECT u, count(*) AS d FROM e0 GROUP BY u),
        dang AS (SELECT node FROM nodes
                 WHERE node NOT IN (SELECT u FROM deg)),
        r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        ${step("r0", "i1")},
        ${step("i1", "i2")}
        SELECT CAST(node AS BIGINT) AS node, r AS rank_e6
        FROM i2 ORDER BY node"""
      }),

    // ── Bounded BFS hop distance ───────────────────────────────────────
    // Min-hop distance from supplier 1 over the same symmetrized trade
    // graph, 4 rounds of frontier expansion (operators.Bfs). The DuckDB
    // oracle is the equivalent recursive CTE with a distinct UNION
    // (DuckDB admits it; Spark's recursive CTE does not yet, which is
    // exactly why the Spark side is the iterative operator — the same
    // division of labor as d06's connected components).
    "g02_bfs_hops" -> Q(
      run = (s, d) => {
        import s.implicits._
        val e0 = supplierCustomerEdges(s, d)
        val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
        val sources = Seq(1L).toDF("node")
        graft.operators.Bfs.hops(edges, sources, 4)
          .orderBy("node")
      },
      oracle = Some("""
        WITH RECURSIVE e0 AS (
          SELECT DISTINCT l_suppkey AS u, o_custkey + 1000000 AS v
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        reach(node, hop) AS (
          SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
          UNION
          SELECT e.v, r.hop + 1
          FROM reach r JOIN edges e ON e.u = r.node
          WHERE r.hop < 4)
        SELECT node, CAST(min(hop) AS BIGINT) AS hop
        FROM reach GROUP BY node ORDER BY node""")),

    // ── Degree-oriented triangle counting ──────────────────────────────
    // Per-node triangle counts over the part co-purchase graph (parts
    // sharing an order). THE algorithm that survives 100 TB: orient
    // every undirected edge from its (degree, id)-smaller endpoint to
    // the larger, then count wedges only at each edge's SOURCE —
    // out-degrees under this orientation are O(√m), so the wedge join
    // is O(m^1.5) instead of Σ deg² (a hub of degree d contributes
    // C(d,2) wedges un-oriented; oriented it contributes almost none).
    // All joins are equi-joins on node keys (shuffle-partitioned, AQE
    // handles residual skew); counts are exact integers.
    "g03_triangles" -> Q(
      run = (s, d) => {
        // Round 15 (guide §2.4): und feeds deg (twice, via the union)
        // and the orientation; ori feeds all THREE sides of the wedge
        // join; tri feeds the three-way corner union. Uncut, those
        // fan-outs multiply — the executed plan held ~45 copies of the
        // co-purchase derivation (90 lineitem scans). Cutting the three
        // reuse points makes every stage compute exactly once.
        val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        val und = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey")
              && col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
          .distinct()
          .localCheckpoint(true)
        graft.Caches.trackCut(und)
        val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        val withDeg = und
          .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
          .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
        // Orient: smaller (deg, id) → larger. Carry the target's rank
        // key so the wedge's two far endpoints order without re-joining.
        val ori = withDeg.select(
          when(col("du") < col("dv")
            || (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("src"),
          when(col("du") < col("dv")
            || (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("dst"),
          greatest(col("du"), col("dv")).as("ddst"))
          .localCheckpoint(true)
        graft.Caches.trackCut(ori)
        val tri = ori.as("ab").join(ori.as("ac"),
            col("ab.src") === col("ac.src")
              && (col("ab.ddst") < col("ac.ddst")
                || (col("ab.ddst") === col("ac.ddst")
                  && col("ab.dst") < col("ac.dst"))))
          .select(col("ab.src").as("a"), col("ab.dst").as("b"), col("ac.dst").as("c"))
          .join(ori.as("bc"),
            col("b") === col("bc.src") && col("c") === col("bc.dst"), "leftsemi")
          .localCheckpoint(true)
        graft.Caches.trackCut(tri)
        tri.select(col("a").as("node"))
          .union(tri.select(col("b").as("node")))
          .union(tri.select(col("c").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
          .orderBy("node")
      },
      oracle = Some("""
        WITH und AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        deg AS (
          SELECT n, count(*) AS deg FROM (
            SELECT u AS n FROM und UNION ALL SELECT v FROM und)
          GROUP BY n),
        ori AS (
          SELECT CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
                      THEN und.u ELSE und.v END AS src,
                 CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
                      THEN und.v ELSE und.u END AS dst,
                 greatest(du.deg, dv.deg) AS ddst
          FROM und JOIN deg du ON und.u = du.n JOIN deg dv ON und.v = dv.n),
        tri AS (
          SELECT ab.src AS a, ab.dst AS b, ac.dst AS c
          FROM ori ab JOIN ori ac
            ON ab.src = ac.src AND (ab.ddst, ab.dst) < (ac.ddst, ac.dst)
          JOIN ori bc ON bc.src = ab.dst AND bc.dst = ac.dst)
        SELECT node, count(*) AS n_tri FROM (
          SELECT unnest([a, b, c]) AS node FROM tri)
        GROUP BY node ORDER BY node""")),
        // ^ Two oracle-side (DuckDB) rewrites so the SAME semantics stay
        // checkable at the sf1 ladder rung (411M oriented wedges there):
        // (1) the wedge-closing EXISTS compiled to a RIGHT_SEMI hash
        // join that BUILT on the 411M-row wedge stream — >58 GB of temp
        // spill, disk-full; a plain inner join against ori is
        // equivalent (ori's (src,dst) pairs are distinct, so at most
        // one bc matches) and builds on the 12M-row edge side instead.
        // (2) tri is referenced ONCE (unnest fans each triangle to its
        // 3 corners in-stream) instead of 3x in a UNION ALL, which made
        // DuckDB materialize the CTE. Verified row-identical to the old
        // form at sf0.01 and to the Spark result at sf1 (sum 56534640),
        // wall 231 s, temp bounded.

    // ── Link prediction: top-k common-neighbor / Jaccard candidates ────
    // The recommender / entity-resolution primitive: for every supplier,
    // the 5 most similar suppliers by customer-set Jaccard, scored from
    // common-neighbor counts through the shared-customer equi-join.
    // Scale shape: pair generation is keyed by the MIDDLE node (one
    // equi-join on customer), so cost is Σ_c deg(c)² — bounded by the
    // hub cap (deg ≤ 50) that drops the quadratic tail; hubs carry ~no
    // signal for similarity (a customer buying from everyone
    // discriminates nothing) and this filter is the standard
    // common-neighbor mitigation. Degrees join back broadcast
    // (|suppliers| rows = dim-sized); Jaccard is integer ppm from
    // carried counts (d02's trick — |A∩B| and degrees, never sets); the
    // per-node top-5 is a bounded keyed window. Output is |S|·k rows at
    // any corpus scale.
    "g04_link_prediction" -> Q(
      run = (s, d) => {
        val e0 = supplierCustomerEdges(s, d)
          .select(col("u").as("s"), (col("v") - lit(1000000L)).as("c"))
        val deg = e0.groupBy("s").agg(count(lit(1)).as("d"))
        val keep = e0.groupBy("c").agg(count(lit(1)).as("cd"))
          .filter(col("cd") <= 50).select("c")
        val mid = e0.join(keep, "c")
        val pairs = mid.as("a")
          .join(mid.as("b"),
            col("a.c") === col("b.c") && col("a.s") =!= col("b.s"))
          .groupBy(col("a.s").as("s1"), col("b.s").as("s2"))
          .agg(count(lit(1)).as("common"))
        val scored = pairs
          .join(broadcast(deg.select(col("s").as("s1"), col("d").as("d1"))), "s1")
          .join(broadcast(deg.select(col("s").as("s2"), col("d").as("d2"))), "s2")
          .withColumn("jaccard_ppm",
            expr("common * 1000000L div (d1 + d2 - common)"))
        val w = Window.partitionBy("s1")
          .orderBy(col("jaccard_ppm").desc, col("common").desc, col("s2"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("s1"), col("rank"), col("s2"), col("common"),
            col("jaccard_ppm"))
          .orderBy("s1", "rank")
      },
      oracle = Some("""
        WITH e0 AS (SELECT DISTINCT l_suppkey AS s, o_custkey AS c
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        deg AS (SELECT s, count(*) AS d FROM e0 GROUP BY s),
        keep AS (SELECT c FROM (SELECT c, count(*) AS cd FROM e0 GROUP BY c)
                 WHERE cd <= 50),
        mid AS (SELECT e0.s, e0.c FROM e0 JOIN keep USING (c)),
        pairs AS (SELECT a.s AS s1, b.s AS s2, count(*) AS common
                  FROM mid a JOIN mid b ON a.c = b.c AND a.s <> b.s
                  GROUP BY 1, 2),
        scored AS (SELECT s1, s2, CAST(common AS BIGINT) AS common,
                          CAST(common * 1000000 // (d1.d + d2.d - common)
                               AS BIGINT) AS jaccard_ppm
                   FROM pairs JOIN deg d1 ON s1 = d1.s
                              JOIN deg d2 ON s2 = d2.s)
        SELECT s1, rank, s2, common, jaccard_ppm
        FROM (SELECT *, row_number() OVER (PARTITION BY s1
                ORDER BY jaccard_ppm DESC, common DESC, s2) AS rank
              FROM scored)
        WHERE rank <= 5 ORDER BY s1, rank""")),

    // ── k-core decomposition (iterative peeling) ───────────────────────
    // The density primitive: repeatedly drop nodes of degree < k until
    // none remain (operators.KCore, iterate-to-fixpoint, lineage cut per
    // round like CC/PageRank). Oracle: the peel is MONOTONE and
    // IDEMPOTENT at fixpoint, so DuckDB unrolls a fixed 6 rounds — the
    // trade graph converges in ≤2 at every test SF (measured), and extra
    // unrolled rounds change nothing once stable. Emitted: surviving
    // nodes with their in-core degree. Shape per round: one degree agg
    // + two semi-joins, all keyed on node id; rounds = longest removal
    // cascade. At 100 TB nothing here is all-pairs and the per-round
    // state is the (shrinking) edge list itself.
    "g05_kcore" -> Q(
      run = (s, d) => {
        val e0 = supplierCustomerEdges(s, d)
        val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
        graft.operators.KCore.core(edges, 8)
          .orderBy("node")
      },
      oracle = Some {
        // MATERIALIZED is load-bearing: each round references its
        // predecessor three times, and inlined CTEs would re-evaluate
        // the whole prefix 3^rounds times.
        def peel(prev: String, out: String): String =
          s"""d$out AS MATERIALIZED (
             |  SELECT u FROM $prev GROUP BY u HAVING count(*) >= 8),
             |$out AS MATERIALIZED (
             |  SELECT c.u, c.v FROM $prev c
             |  JOIN d$out a ON c.u = a.u
             |  JOIN d$out b ON c.v = b.u)""".stripMargin
        s"""
        WITH e0 AS MATERIALIZED (
          SELECT DISTINCT l_suppkey AS u, o_custkey + 1000000 AS v
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        p0 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        ${peel("p0", "p1")},
        ${peel("p1", "p2")},
        ${peel("p2", "p3")},
        ${peel("p3", "p4")},
        ${peel("p4", "p5")},
        ${peel("p5", "p6")}
        SELECT u AS node, CAST(count(*) AS BIGINT) AS core_deg
        FROM p6 GROUP BY u ORDER BY node"""
      },
      benchIter = true),

    // ── Semi-supervised label propagation (2 clamped rounds) ───────────
    // A third of the suppliers are seeded with their nation; labels
    // spread over the symmetrized trade graph by majority vote among
    // labeled neighbors (ties broken by smallest label — DETERMINISTIC,
    // unlike textbook random tie-breaks), seeds and previously won
    // labels clamped. Round 1 reaches customers of seeded suppliers,
    // round 2 flows back to unseeded suppliers. Shape per round: one
    // edge⋈labels equi-join shuffled on node, one (node,label) count
    // agg, one node-partitioned argmax window — all keyed on node id,
    // never all-pairs; the loop is operators.LabelPropagation (fixpoint
    // with convergence detection + per-round lineage cut, the CC/KCore
    // contract), pinned to 2 rounds here because the DuckDB twin
    // unrolls the same two rounds as MATERIALIZED CTEs.
    "g06_label_propagation" -> Q(
      run = (s, d) => {
        val e0 = supplierCustomerEdges(s, d)
        val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
        val seeds = Tables.supplier(s, d)
          .filter(col("s_suppkey") % 3 === 0)
          .select(col("s_suppkey").cast("long").as("node"),
            col("s_nationkey").cast("long").as("label"))
        // 2 fixed rounds of the fixpoint operator (oracle necessity: the
        // DuckDB twin unrolls exactly 2 rounds); the unbounded
        // convergence-detected loop is the operator's default contract
        graft.operators.LabelPropagation
          .propagate(edges, seeds, maxIterations = 2)
          .orderBy("node")
      },
      oracle = Some {
        def round(prev: String, out: String): String =
          s"""c$out AS MATERIALIZED (
             |  SELECT e.v AS cand, p.label, count(*) AS n
             |  FROM edges e JOIN $prev p ON e.u = p.node
             |  WHERE e.v NOT IN (SELECT node FROM $prev)
             |  GROUP BY 1, 2),
             |w$out AS (
             |  SELECT cand AS node, label FROM (
             |    SELECT cand, label, row_number() OVER (PARTITION BY cand
             |      ORDER BY n DESC, label) AS rk FROM c$out)
             |  WHERE rk = 1),
             |$out AS MATERIALIZED (
             |  SELECT node, label FROM $prev
             |  UNION ALL SELECT node, label FROM w$out)""".stripMargin
        s"""
        WITH e0 AS MATERIALIZED (
          SELECT DISTINCT l_suppkey AS u, o_custkey + 1000000 AS v
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS MATERIALIZED (
          SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        l0 AS MATERIALIZED (
          SELECT CAST(s_suppkey AS BIGINT) AS node,
                 CAST(s_nationkey AS BIGINT) AS label
          FROM supplier WHERE s_suppkey % 3 = 0),
        ${round("l0", "l1")},
        ${round("l1", "l2")}
        SELECT node, label FROM l2 ORDER BY node"""
      }),

    // ── Personalized PageRank (teleport to a seed set) ─────────────────
    // The graph-retrieval primitive global PageRank (g01) is not: with
    // the teleport base landing only on seed nodes (suppliers ≡ 1 mod
    // 10), rank measures PROXIMITY TO THE SEEDS — seed expansion for
    // retrieval-augmented pipelines, "more docs like these" over a
    // citation/link graph, topic-sensitive ranking. Same exact-integer
    // update as g01 with the base term gated on seed membership
    // (unnormalized PPR — rankings are what matter), same one-shuffle-
    // per-round shape anchored on the node set so zero-inflow seeds
    // keep their base. DuckDB unrolls the same 3 rounds.
    "g09_personalized_pagerank" -> Q(
      run = (s, d) => {
        val e0 = supplierCustomerEdges(s, d)
        val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
        val seeds = Tables.supplier(s, d)
          .filter(col("s_suppkey") % 10 === 1)
          .select(col("s_suppkey").cast("long").as("node"))
        // symmetric union built above — same trustSymmetry opt-in as g01
        graft.operators.PageRank.ranks(edges, 3, teleportTo = Some(seeds),
            trustSymmetry = true)
          .select(col("node"), col("r").as("ppr_e6")).orderBy("node")
      },
      oracle = Some {
        def step(prev: String, out: String): String =
          s"""$out AS MATERIALIZED (
             |  SELECT nd.node,
             |         CAST((CASE WHEN sd.node IS NOT NULL THEN 150000 ELSE 0 END)
             |           + (85 * coalesce(inf.s, 0)) // 100 AS BIGINT) AS r
             |  FROM nodes nd
             |  LEFT JOIN seeds sd ON nd.node = sd.node
             |  LEFT JOIN (
             |    SELECT e.v AS node, sum(p.r // dg.d) AS s
             |    FROM edges e JOIN deg dg ON e.u = dg.u
             |    JOIN $prev p ON p.node = e.u
             |    GROUP BY e.v) inf ON nd.node = inf.node)""".stripMargin
        s"""
        WITH e0 AS MATERIALIZED (
          SELECT DISTINCT l_suppkey AS u, o_custkey + 1000000 AS v
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS MATERIALIZED (
          SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
        nodes AS (SELECT u AS node FROM deg),
        seeds AS (SELECT CAST(s_suppkey AS BIGINT) AS node
                  FROM supplier WHERE s_suppkey % 10 = 1),
        r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        ${step("r0", "i1")},
        ${step("i1", "i2")},
        ${step("i2", "i3")}
        SELECT CAST(node AS BIGINT) AS node, r AS ppr_e6
        FROM i3 ORDER BY node"""
      }),

    // ── HITS hubs & authorities (directed two-role scoring) ────────────
    // The genuinely DIRECTED customer→supplier graph again (g07's), but
    // scored with the two-role model: customers can only be HUBS
    // (they point), suppliers only AUTHORITIES (they are pointed at) —
    // big buyers lift the rank of the suppliers they buy from and vice
    // versa, mutually recursively. operators.Hits runs the standard
    // a-then-h update with exact integer MAX-normalization per step
    // (ranking-preserving, overflow-free, and — unlike L2 — replayable
    // bit-for-bit by DuckDB as unrolled CTEs with scalar max
    // subqueries). 2 rounds here to match the unrolled twin.
    "g10_hits" -> Q(
      run = (s, d) => {
        val edges = supplierCustomerEdges(s, d)
          .select(col("v").as("u"), col("u").as("v"))
        // BROADCAST round shape SHIPPED round 14 (the g01 treatment,
        // r13 verdict item 1): one u-keyed edge pin, node-sized score
        // state broadcast into it per half-round, raw sums lineage-cut
        // before normalization so the edge scan happens once per
        // half-round with zero edge shuffle (IterProbe sf10: marginal
        // shuffle 2.3 GB/round → node-sized; see Hits scaladoc).
        // ~1.6M nodes at sf10 ≪ broadcastScoreMax=32M, so the query
        // never falls back.
        graft.operators.Hits.scores(edges, 2).orderBy("node")
      },
      oracle = Some {
        def round(hPrev: String, i: Int): String =
          s"""a${i}r AS (SELECT e.v AS node, sum(p.h) AS s
             |  FROM e0 e JOIN $hPrev p ON p.node = e.u GROUP BY e.v),
             |a$i AS MATERIALIZED (
             |  SELECT nd.node,
             |         CAST((1000000 * coalesce(r.s, 0))
             |           // (SELECT max(s) FROM a${i}r) AS BIGINT) AS a
             |  FROM nodes nd LEFT JOIN a${i}r r ON nd.node = r.node),
             |h${i}r AS (SELECT e.u AS node, sum(p.a) AS s
             |  FROM e0 e JOIN a$i p ON p.node = e.v GROUP BY e.u),
             |h$i AS MATERIALIZED (
             |  SELECT nd.node,
             |         CAST((1000000 * coalesce(r.s, 0))
             |           // (SELECT max(s) FROM h${i}r) AS BIGINT) AS h
             |  FROM nodes nd LEFT JOIN h${i}r r ON nd.node = r.node)""".stripMargin
        s"""
        WITH e0 AS MATERIALIZED (
          SELECT DISTINCT o_custkey + 1000000 AS u, l_suppkey AS v
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        nodes AS MATERIALIZED (
          SELECT u AS node FROM e0 UNION SELECT v FROM e0),
        h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
        ${round("h0", 1)},
        ${round("h1", 2)}
        SELECT CAST(h2.node AS BIGINT) AS node, h2.h AS hub_e6,
               a2.a AS auth_e6
        FROM h2 JOIN a2 ON h2.node = a2.node ORDER BY node"""
      },
      benchIter = true),

    // ── Weighted single-source shortest paths ──────────────────────────
    // The WEIGHTED companion to g02: same symmetrized trade graph, but
    // each supplier↔customer edge is priced 1 + (lineitem count % 7) —
    // heavily-traded pairs are NOT systematically cheap, so a cheap
    // 2-hop route genuinely beats an expensive direct edge and the
    // result provably differs from hop-BFS. operators.Sssp runs
    // frontier-restricted Bellman–Ford (only rows whose distance
    // improved last round rejoin the edge list; empty frontier stops
    // the loop); 4 rounds here because the DuckDB twin unrolls 4 full
    // relaxations — after round k both formulations hold min weight
    // over ≤ k-edge paths, which is what makes them comparable.
    // Scale posture: per-round cost is frontier × out-degree keyed on
    // node id (never nodes × edges), distance state is one row per
    // reached node, lineage cut per round (localCheckpoint here,
    // reliable checkpoint(dir) in production — the CC contract).
    "g08_sssp" -> Q(
      run = (s, d) => {
        import s.implicits._
        val pw = deriveWeightedEdges(s, d)
        val edges = pw.union(
          pw.select(col("v").as("u"), col("u").as("v"), col("w")))
        graft.operators.Sssp.distances(edges, Seq(1L).toDF("node"), 4)
          .orderBy("node")
      },
      oracle = Some {
        def relax(prev: String, out: String): String =
          s"""$out AS MATERIALIZED (
             |  SELECT node, min(d) AS d FROM (
             |    SELECT node, d FROM $prev
             |    UNION ALL
             |    SELECT e.v AS node, p.d + e.w AS d
             |    FROM edges e JOIN $prev p ON p.node = e.u)
             |  GROUP BY node)""".stripMargin
        s"""
        WITH pw AS MATERIALIZED (
          SELECT l_suppkey AS u, o_custkey + 1000000 AS v,
                 1 + count(*) % 7 AS w
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        edges AS MATERIALIZED (
          SELECT u, v, w FROM pw UNION ALL SELECT v, u, w FROM pw),
        r0 AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d),
        ${relax("r0", "i1")},
        ${relax("i1", "i2")},
        ${relax("i2", "i3")},
        ${relax("i3", "i4")}
        SELECT CAST(node AS BIGINT) AS node, CAST(d AS BIGINT) AS d
        FROM i4 ORDER BY node"""
      },
      benchIter = true),

    // ── Community quality audit: modularity of a partition ─────────────
    // g06/d06 PRODUCE communities; this SCORES a partition — Newman
    // modularity Q = Σ_c [ in_c/2m − (deg_c/2m)² ], the number that says
    // whether a community assignment beats random wiring (Q>0) before
    // anyone ships it. Partition under audit: NATION (suppliers and
    // customers carry one), over the symmetrized co-purchase graph —
    // ground-truth labels, so the oracle needs no iterative replay.
    // Determinism: each community's contribution is computed from pure
    // integer counts (in_c, deg_c, 2m) and rounded to e9 PER ROW, so
    // the total is an exact int64 sum in any partition order (t23's
    // discipline). Scale: one edge-list build (g01's), one join to the
    // broadcast node→community map, two grouped counts — all
    // equi-keyed; the per-community table is |communities| rows.
    "g11_modularity" -> Q(
      run = (s, d) => {
        val e0 = supplierCustomerEdges(s, d)
        val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
        val comm = Tables.supplier(s, d)
          .select(col("s_suppkey").as("node"),
            col("s_nationkey").cast("long").as("c"))
          .union(Tables.customer(s, d)
            .select((col("c_custkey") + lit(1000000L)).as("node"),
              col("c_nationkey").cast("long").as("c")))
        // Round 15 (guide §2.4): lab feeds both the global m2 count and
        // the per-community aggregate — uncut, the edge-sized
        // two-broadcast join ran twice (and rebuilt its four dimension
        // broadcasts). One cut, both consumers read blocks. The
        // labeling's broadcast shape is pinned on [[g11LabeledEdges]]
        // directly (PlanSpec) since the cut hides it from this query's
        // final plan.
        val lab = g11LabeledEdges(edges, comm).localCheckpoint(true)
        graft.Caches.trackCut(lab)
        val m2 = lab.agg(count(lit(1)).as("m2"))
        val byComm = lab.groupBy(col("cu").as("community"))
          .agg(count(lit(1)).as("deg_sum"),
            sum(when(col("cu") === col("cv"), 1L).otherwise(0L)).as("in2"))
        byComm.crossJoin(broadcast(m2))
          .select(col("community"), col("deg_sum"), (col("in2") / 2)
              .cast("long").as("in_edges"),
            round((col("in2").cast("double") / col("m2")
              - (col("deg_sum").cast("double") / col("m2"))
                * (col("deg_sum").cast("double") / col("m2"))) * 1e9, 0)
              .cast("long").as("q_contrib_e9"))
          .orderBy("community")
      },
      oracle = Some("""
        WITH e0 AS (SELECT DISTINCT l_suppkey AS u,
                           o_custkey + 1000000 AS v
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        comm AS (SELECT s_suppkey AS node, CAST(s_nationkey AS BIGINT) AS c
                 FROM supplier
                 UNION ALL
                 SELECT c_custkey + 1000000, CAST(c_nationkey AS BIGINT)
                 FROM customer),
        lab AS (SELECT cu.c AS cu, cv.c AS cv
                FROM edges JOIN comm cu ON edges.u = cu.node
                           JOIN comm cv ON edges.v = cv.node),
        m AS (SELECT count(*) AS m2 FROM lab),
        byc AS (SELECT cu AS community, count(*) AS deg_sum,
                       sum(CASE WHEN cu = cv THEN 1 ELSE 0 END) AS in2
                FROM lab GROUP BY 1)
        SELECT community, CAST(deg_sum AS BIGINT) AS deg_sum,
               CAST(in2 // 2 AS BIGINT) AS in_edges,
               CAST(round((CAST(in2 AS DOUBLE) / m2
                 - (CAST(deg_sum AS DOUBLE) / m2)
                   * (CAST(deg_sum AS DOUBLE) / m2)) * 1e9) AS BIGINT)
                 AS q_contrib_e9
        FROM byc, m ORDER BY community""")),

    // ── Degree-skew audit: is this graph safe to join un-salted? ───────
    // The graph twin of d16's hot-shingle census and s24's cell-balance
    // card: every iterative operator here shuffles messages keyed by
    // node id, so ONE super-hub makes one reducer the whole job's
    // critical path — the decision to salt (q47), AQE-skew-split, or
    // vertex-cut a graph should be made from a measured number, not a
    // guess. Emits the two numbers that decide it: hot_share_e6 (the
    // hottest node's fraction of all edge endpoints — directly the
    // largest reducer's load share) and the ln-ln OLS slope of the
    // degree DISTRIBUTION (t16's integer-ppm fit verbatim): slope ≈ -1
    // and shallower says scale-free/heavy-tailed (salt the hubs),
    // steeply negative says near-regular (plain hash partitioning
    // holds); a perfectly regular graph (ONE distinct degree) makes
    // the OLS denominator 0 — reported as slope 0 in both engines
    // (Spark's div would NULL, DuckDB's // would ERROR — the
    // d15/d17/d19 zero-denominator convention). Shapes: one degree
    // agg, one tiny count-by-degree agg
    // (≤ max-degree rows), 1-row scalar cards crossed in-plan (the p01
    // pattern, plan-smell-adjudicated).
    "g12_degree_skew" -> Q(
      run = (s, d) => {
        val e0 = supplierCustomerEdges(s, d)
        val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
        val deg = edges.groupBy("u").agg(count(lit(1)).as("dg"))
        val card = deg.agg(count(lit(1)).as("n_nodes"),
          sum(col("dg")).as("n_endpoints"), max(col("dg")).as("max_degree"))
        val pts = deg.groupBy("dg").agg(count(lit(1)).as("cnt"))
          .select(
            round(log(col("dg").cast("double")) * 1000, 0).cast("long").as("x"),
            round(log(col("cnt").cast("double")) * 1000, 0).cast("long").as("y"))
        val fit = pts.agg(count(lit(1)).as("k"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .withColumn("num", expr("k * sxy - sx * sy"))
          .withColumn("den", expr("k * sxx - sx * sx"))
          // Overflow-safe ppm division (q60's convention): num grows
          // ~k²·cov(x,y), so for graphs with ~1000+ distinct degree
          // values (exactly the web-scale inputs this audit targets)
          // abs(num)*1e6 exceeds int64 — Spark (non-ANSI) would wrap to
          // a garbage slope while DuckDB errors, diverging where it
          // matters. When den ≥ 1e6, divide by the down-scaled den
          // instead of up-scaling num; both operands stay non-negative
          // (abs + Cauchy–Schwarz den ≥ 0) so truncating div == floor
          // in both engines. Residual bound: num/den themselves stay in
          // int64 up to ~9e4 distinct degree values (x,y ≤ ~35e3 ppt) —
          // an order past any real degree census (distinct degrees grow
          // ~√E).
          .select(expr("""CASE WHEN den = 0 THEN 0
                               WHEN num >= 0 THEN
                                 CASE WHEN den >= 1000000
                                      THEN abs(num) div (den div 1000000)
                                      ELSE abs(num) * 1000000L div den END
                               ELSE
                                -(CASE WHEN den >= 1000000
                                       THEN abs(num) div (den div 1000000)
                                       ELSE abs(num) * 1000000L div den END)
                          END""")
            .as("slope_ppm"))
        broadcast(card).crossJoin(fit)
          .select(col("n_nodes"), expr("n_endpoints div 2").as("n_edges"),
            col("max_degree"),
            expr("max_degree * 1000000L div n_endpoints").as("hot_share_e6"),
            col("slope_ppm"))
      },
      oracle = Some("""
        WITH e0 AS (SELECT DISTINCT l_suppkey AS u, o_custkey + 1000000 AS v
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        deg AS (SELECT u, count(*) AS dg FROM edges GROUP BY u),
        card AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                        CAST(sum(dg) AS BIGINT) AS n_endpoints,
                        CAST(max(dg) AS BIGINT) AS max_degree
                 FROM deg),
        pts AS (SELECT CAST(round(1000 * ln(CAST(dg AS DOUBLE))) AS BIGINT) AS x,
                       CAST(round(1000 * ln(CAST(cnt AS DOUBLE))) AS BIGINT) AS y
                FROM (SELECT dg, count(*) AS cnt FROM deg GROUP BY 1)),
        s AS (SELECT CAST(count(*) AS BIGINT) AS k,
                     CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x*y) AS BIGINT) AS sxy,
                     CAST(sum(x*x) AS BIGINT) AS sxx
              FROM pts),
        nd AS (SELECT k*sxy - sx*sy AS num, k*sxx - sx*sx AS den FROM s),
        fit AS (SELECT CASE WHEN den = 0 THEN 0
                       WHEN num >= 0 THEN
                         CASE WHEN den >= 1000000
                              THEN CAST(abs(num) // (den // 1000000) AS BIGINT)
                              ELSE CAST(abs(num) * 1000000 // den AS BIGINT) END
                       ELSE
                        -(CASE WHEN den >= 1000000
                               THEN CAST(abs(num) // (den // 1000000) AS BIGINT)
                               ELSE CAST(abs(num) * 1000000 // den AS BIGINT) END)
                       END AS slope_ppm
                FROM nd)
        SELECT n_nodes, CAST(n_endpoints // 2 AS BIGINT) AS n_edges,
               max_degree,
               CAST(max_degree * 1000000 // n_endpoints AS BIGINT)
                 AS hot_share_e6,
               slope_ppm
        FROM card, fit"""))
  )
}
