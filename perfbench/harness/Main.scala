package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The benchmark's JVM side. `perfbench/run.py` builds it, derives the
  * host settings and launches it; this process runs one workload as one
  * closed-loop client and writes every number to `--out` as JSON.
  *
  * Modes: `bench` (warm-up, then measured passes), `pin` (print each
  * query's row count and digest), `selftest` (show the checks reject a
  * perturbed output). */
object Main {

  /** True while a traced pass runs (construct spans then sample storage). */
  @volatile var traced = false

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cpus = a("cpus").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a("workload")}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    a.get("conf").filter(_.nonEmpty).foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result =
      try a("mode") match {
        case "selftest" => Selftest.run(spark, work)
        case "pin" => pin(spark, a)
        case _ => bench(spark, a, cpus, work)
      } finally spark.stop()
    Files.write(Paths.get(a("out")), Json.render(result).getBytes(StandardCharsets.UTF_8))
  }

  private def queryNames(workload: String): Seq[String] =
    if (workload.startsWith("olap")) SparkEntry.benchQueries
    else SparkEntry.benchIterQueries

  private def pin(spark: SparkSession, a: Map[String, String]): Map[String, Any] =
    Map("pins" -> queryNames(a("workload")).map { q =>
      val (rows, d) = Checks.digest(SparkEntry.queries(q)(spark, a("data")))
      q -> Map("rows" -> rows, "digest" -> d)
    }.toMap)

  private def workload(spark: SparkSession, a: Map[String, String], cpus: Int,
      work: Path): Workload = {
    val seed = a("seed").toLong
    a("workload") match {
      case "mr-lines" =>
        val Array(files, lines, vocab) = a("corpus").split("x").map(_.toInt)
        val w = new MrLinesWorkload(spark, work, seed, files, lines, vocab, cpus)
        w.generate()
        w
      case name =>
        val pins = Files.readAllLines(Paths.get(a("pins"))).asScala
          .map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2))).toMap
        new QueryWorkload(spark, a("data"), queryNames(name), seed, pins)
    }
  }

  /** One job run: `wallS` and `cpuS` over construct + action + reclaim,
    * `jobS` over construct + action (what a user waits for). */
  final case class JobRec(job: String, wallS: Double, jobS: Double, cpuS: Double)

  final case class PassRec(index: Int, kind: String, traced: Boolean,
      span: Span, jobs: Seq[JobRec], complete: Boolean, gcS: Double, jitS: Double,
      stealFrac: Double, facts: Map[String, Map[String, Double]]) {
    def wallS: Double = jobs.map(_.wallS).sum
    def cpuS: Double = jobs.map(_.cpuS).sum
  }

  private def bench(spark: SparkSession, a: Map[String, String], cpus: Int,
      work: Path): Map[String, Any] = {
    val sc = spark.sparkContext
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val tr = new Tracer(sc)
    val listener = new LayerListener
    val w = workload(spark, a, cpus, work)
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    /** One pass over the workload's jobs in the seed's order; no job starts
      * after `stopNs`. */
    def doPass(index: Int, kind: String, tracedPass: Boolean, stopNs: Long): Unit = {
      if (tracedPass) listener.attach(spark)
      traced = tracedPass
      val gc0 = Proc.gcSeconds()
      val jit0 = Proc.jitSeconds()
      val ticks0 = Proc.hostTicks()
      val recs = mutable.ArrayBuffer.empty[JobRec]
      val ps = tr.span("pass") { ps =>
        ps.attrs("index") = index
        ps.attrs("kind") = kind
        ps.attrs("traced") = tracedPass
        w.order(index).iterator.takeWhile(_ => System.nanoTime() < stopNs).foreach { job =>
          attempted += 1
          val js = tr.open("job")
          js.attrs("job") = job
          val out =
            try w.run(job, tr, check = kind == "check")
            catch { case e: Throwable => JobOutcome(Some(s"$job threw: $e")) }
          tr.close(js)
          out.error.foreach { e => errors += e; System.err.println(s"[perfbench] $e") }
          val timed = tr.children(js.id).filter(s => Set("construct", "action", "reclaim")(s.name))
          recs += JobRec(job, timed.map(_.seconds).sum,
            timed.filter(_.name != "reclaim").map(_.seconds).sum,
            timed.map(_.cpuSeconds).sum)
        }
        ps
      }
      if (tracedPass) listener.detach(spark)
      traced = false
      val ticks1 = Proc.hostTicks()
      val steal = (ticks1._2 - ticks0._2).toDouble / math.max(1L, ticks1._1 - ticks0._1)
      val p = PassRec(index, kind, tracedPass, ps, recs.toSeq, recs.size == w.jobs.size,
        Proc.gcSeconds() - gc0, Proc.jitSeconds() - jit0, steal, w.facts.toMap)
      passes += p
      System.err.println(f"[perfbench] pass $index $kind%-7s wall ${p.wallS}%.3f s " +
        f"jobs ${recs.size}/${w.jobs.size} steal $steal%.3f" +
        (if (tracedPass) " (traced)" else ""))
    }

    val run = tr.open("run")
    // the warm-up is one pass, the check pass: every output is digested and
    // compared (README.md "Warm-up" has the evidence and the budget)
    doPass(0, "check", false, Long.MaxValue)
    val setupS = tr.now() / 1e9 - a("launched-ms").toLong / 1e3
    // Measured: one whole pass, then job by job until `seconds` have passed.
    // A traced run measures whole passes only, so each pass's layers add up.
    val stopNs = System.nanoTime() + (seconds * 1e9).toLong
    var index = 1
    while (index == 1 || System.nanoTime() < stopNs) {
      doPass(index, "measure", trace, if (index == 1 || trace) Long.MaxValue else stopNs)
      index += 1
    }
    tr.close(run)

    val m = passes.filter(_.kind == "measure")
    val whole = m.filter(_.complete)
    // Each job's samples reduce to their low median (the lower middle
    // value): robust to a slow sample from a host-steal burst or the JIT
    // drift of the first measured pass. A pass is the sum over its jobs.
    // Jobs differ several-fold in size, so the typical job is their
    // geometric mean: each job weighs the same in relative terms.
    val perJob = m.flatMap(_.jobs).groupBy(_.job).values.toSeq
    def perJobSum(f: JobRec => Double): Double = perJob.map(js => Stats.lowMedian(js.map(f))).sum
    val jobS = perJob.map(js => Stats.lowMedian(js.map(_.jobS)))
    val jobWalls = m.flatMap(_.jobs.map(_.jobS))
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "pass_s" -> perJobSum(_.wallS),
      "job_geomean_s" -> math.exp(jobS.map(math.log).sum / jobS.size),
      "cpu_s" -> perJobSum(_.cpuS),
      "peak_rss_mb" -> Proc.peakRssMb())
    val extra = mutable.LinkedHashMap[String, Any](
      "failed_frac" -> errors.size.toDouble / attempted,
      "job_p50_s" -> Stats.median(jobS),
      "job_samples" -> jobWalls.size,
      "measured_passes" -> m.size,
      // p90 only where at least ten samples lie beyond it
      "job_p90_s" -> (if (jobWalls.size >= 100) Stats.quantile(jobWalls, 0.9) else null))
    w.streamJobs.foreach { j =>
      val f = whole.flatMap(_.facts.get(j))
      val walls = whole.flatMap(_.jobs.filter(_.job == j).map(_.jobS))
      extra("stream_rows_per_s") = Stats.median(f.zip(walls).map { case (x, s) => x("rows") / s })
      extra("stream_batch_p50_ms") = Stats.median(f.map(_("batch_p50_ms")))
    }
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val perPass = whole.map(p => Layers.of(tr, listener, p, w, cpus))
        val keys = perPass.head.keys.toSeq
        keys.map(k => k -> Stats.median(perPass.map(_(k)))).toMap +
          ("trace.pass_s" -> e2e("pass_s"))
      }
    val jobs = if (!trace) Nil else whole.flatMap { p =>
      tr.children(p.span.id).filter(_.name == "job").map { js =>
        Map("pass" -> p.index, "job" -> js.attrs("job")) ++
          Layers.ofJobs(tr, listener, Seq(js), w, cpus)
      }
    }
    Map(
      "correct" -> errors.isEmpty,
      "attempted" -> attempted,
      "failed" -> errors.size,
      "errors" -> errors.toSeq,
      "end_to_end" -> e2e.toMap,
      "extra" -> extra.toMap,
      "per_layer" -> layers,
      "passes" -> passes.map(p => Map("index" -> p.index, "kind" -> p.kind,
        "traced" -> p.traced, "complete" -> p.complete, "wall_s" -> p.wallS,
        "span_s" -> p.span.seconds, "cpu_s" -> p.cpuS, "steal_frac" -> p.stealFrac,
        "gc_s" -> p.gcS, "jit_s" -> p.jitS, "jobs" -> p.jobs.map(j => Seq(j.job, j.jobS, j.wallS, j.cpuS)))).toSeq,
      "self_s" -> tr.selfSeconds,
      "trace_jobs" -> jobs,
      "spans" -> (if (!trace) Nil else tr.spans.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs) ++ s.attrs).toSeq),
      "settings" -> Map(
        "local" -> s"local[$cpus]",
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "warmup_passes" -> 1,
        "corpus_bytes" -> w.corpusBytes,
        "spark" -> spark.version))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** Process-level readings from /proc and the JVM's MXBeans. */
object Proc {
  private val clkTck = sys.props.getOrElse("perfbench.clk_tck", "100").toDouble

  /** CPU seconds of this process plus its reaped children (the mapper and
    * reducer executables). */
  def cpuSeconds(): Double = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")),
      StandardCharsets.US_ASCII)
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong + f(13).toLong + f(14).toLong) / clkTck
  }

  /** Host-wide CPU ticks from /proc/stat: (all states, steal). */
  def hostTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (f.sum, f(7))
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Summed time of the JIT compiler's compilations so far. */
  def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double = quantile(xs, 0.5)
  /** The lower of the two middle values (the middle one for an odd count,
    * the only one for a single sample); 0 for no samples. */
  def lowMedian(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply((xs.size - 1) / 2)
  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: scala.collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Just enough JSON for the artifact. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}
