package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only iterative-engine cost breakdown (NOT part of the driver
  * contract — [[Scratch]]'s sibling): separates a graph query's wall
  * into (a) EDGE DERIVATION (the relational lineitem⋈orders+distinct
  * that manufactures the graph), (b) ENGINE SETUP (pins, degree table,
  * loud guards — rounds=0), and (c) PER-ROUND marginal cost, by running
  * the same engine at increasing round counts inside one warm JVM and
  * differencing adjacent walls. The scale ladder (LADDER_r{N}) and the
  * layout arms (GROWTH_r{N}) measure whole queries one JVM at a time;
  * this probe answers the follow-up those artifacts raise — WHICH stage
  * of an iterative query owns its growth (g10's sf10 reading is the
  * motivating case: pre-fix HITS grew 21.4x for 10x data at the default
  * cpus-tied 8 shuffle partitions — GROWTH_r9's headline outlier — and
  * still ~11.7x at the 64-partition layout arm, where PageRank grows
  * ~4x; the difference had to be setup, round cost, or round count to
  * be actionable, and the probe attributed it to setup).
  *
  * Usage: runMain graft.IterProbe <sfDir> <edges|pagerank|hits|cc> [maxRounds]
  * (`edges` = time the shared edge derivation alone and exit — the
  * round-16 memory-capped packed-vs-unpacked A/B arm)
  * Env: SPARK_GRAFT_CPUS / SPARK_GRAFT_SHUFFLE_PARTITIONS (Verify's
  * knobs, same defaults) so probe readings are comparable to the
  * ladder's.
  */
object IterProbe {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val which = args(1)
    val maxRounds = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[iterprobe] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s ($n rows)")
    }

    // the g01/g05/g10 edge derivation — GraphPack's OWN uncached helper
    // (not a hand copy: if the shared derivation changes, the probe
    // must keep measuring the graph the queries actually run on). The
    // cache bypass is the point here: the probe times the derivation.
    def baseEdges(): DataFrame =
      queries.GraphPack.deriveSupplierCustomerEdges(spark, d)

    // derivation-only mode (round 16, verdict item 1): the
    // memory-capped packed-vs-unpacked A/B times EXACTLY the stage r14
    // measured superlinear, one fresh JVM per arm inside a cgroup.
    // One pass computes count AND an order-independent content hash
    // (bit_xor of xxhash64(u, v) over the distinct edges — xor, not
    // sum, because ANSI mode makes a 176M-row long sum overflow loudly)
    // so the two arms are HASH-adjudicated against each other, not
    // rows-only; the xxhash projection is codegen over the distinct's
    // output and costs nothing next to the distinct itself. Exit
    // before constructing any engine.
    if (which == "edges") {
      val t0 = System.nanoTime()
      val row = baseEdges()
        .agg(count(lit(1)).as("n"),
          expr("bit_xor(xxhash64(u, v))").as("hashsum"))
        .head()
      println(f"[iterprobe] edge derivation (count+hash):" +
        f" ${(System.nanoTime() - t0) / 1e9}%.1f s" +
        f" (${row.getLong(0)} rows, hashsum ${row.getLong(1)})")
      spark.stop()
      return
    }

    timed("edge derivation (distinct count)")(baseEdges().count())

    // per-run shuffle attribution (the g05-treatment instrument,
    // round 13; shared by the pagerank and hits modes since round 14):
    // differencing adjacent round counts gives marginal per-round wall
    // AND marginal shuffle bytes — the number that says whether a
    // round shape is zero-shuffle as designed
    val ml = new ShuffleAudit.MetricsListener
    spark.sparkContext.addSparkListener(ml)
    def shuffleSnap(): (Long, Long) = {
      org.apache.spark.graftshim.ListenerShim
        .waitUntilEmpty(spark.sparkContext)
      (ml.shuffleWrite.sum(), ml.shuffleRead.sum())
    }
    def attributedRuns(label: String)(run: Int => Long): Unit =
      for (r <- 0 to maxRounds) {
        val (w0, rd0) = shuffleSnap()
        timed(s"$label rounds=$r")(run(r))
        val (w1, rd1) = shuffleSnap()
        println(f"[iterprobe] $label rounds=$r shuffle:" +
          f" write ${(w1 - w0) / 1e6}%.1f MB" +
          f" read ${(rd1 - rd0) / 1e6}%.1f MB")
        // engine leftovers (final generations + pins) drop between
        // runs so run N+1's storage regime matches a fresh query's.
        // The probe's own edge cut is NOT enrolled (no trackCut), so
        // the drain can't invalidate it.
        Caches.strayUnpersist(spark)
      }

    which match {
      case "pagerank" =>
        // pre-cut the derivation like every production caller does
        // (GraphPack's edge memo is a localCheckpoint): since round 13
        // the engine deliberately does NOT pin its input (PageRank
        // scaladoc input contract), so an un-cut probe input would
        // re-derive the 33 s lineitem⋈orders join ~3× inside "setup"
        // and mis-attribute it to the engine
        val cut = baseEdges().localCheckpoint(true)
        val edges = cut.union(cut.select(col("v").as("u"), col("u").as("v")))
        attributedRuns("pagerank") { r =>
          operators.PageRank.ranks(edges, r, trustSymmetry = true)
            .queryExecution.toRdd.count()
        }
      case "hits" =>
        // g10's orientation: customers point at suppliers (the query's
        // own reversal of the shared derivation, GraphPack.scala g10).
        // Pre-cut like the pagerank mode so "setup" times the ENGINE
        // (its own pin + degree aggregate), not the probe's derivation.
        val cut = baseEdges().localCheckpoint(true)
        val edges = cut.select(col("v").as("u"), col("u").as("v"))
        attributedRuns("hits") { r =>
          operators.Hits.scores(edges, r)
            .queryExecution.toRdd.count()
        }
      case "cc" =>
        // d06's shape: d03's LSH pair list → min-label components.
        // Three attributable stages: (a) PAIR DERIVATION (the full d03
        // path — shingles, minhash signatures, band join; memoized
        // across queries in a shared session, paid in full by d06's
        // one-JVM-per-query ladder runs), (b) CC SETUP (rounds=0: sym
        // edge distinct + repartition + label init), (c) PER-ROUND
        // marginal (one sym⋈labels join + min-agg + cut each). The
        // round-9 open question this answers: d06's sf10 growth (5.4×
        // min-of-3) and 84/91/158 s spread — which stage moves?
        val pairs = graft.SparkEntry
          .queries("d03_minhash_lsh")(spark, d)
          .select(col("da"), col("db"))
        timed("d03 pair derivation (count)")(pairs.count())
        // pin so the CC timings below never re-pay the pair derivation
        val pinned = pairs.localCheckpoint(true)
        for (r <- 0 to maxRounds)
          timed(s"cc rounds=$r") {
            operators.ConnectedComponents
              .minLabel(pinned, maxIterations = r)
              .queryExecution.toRdd.count()
          }
      case other =>
        sys.error(s"unknown engine '$other' (edges|pagerank|hits|cc)")
    }
    spark.stop()
  }
}
