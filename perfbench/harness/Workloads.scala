package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.{Caches, SparkEntry}
import graft.mr.{MapReduceDriver, MapReduceJob, MrJob}
import graft.queries.MrPack

/** Outcome of one job: `error` is None when the job ran and, on a check
  * pass, its output matched. */
final case class JobOutcome(error: Option[String])

/** A workload is a fixed set of named jobs run one after another by one
  * closed-loop client. `run` wraps the program calls in the tracer's
  * construct / action / reclaim spans; anything it does to check outputs
  * happens after those spans close, so it is never timed. */
trait Workload {
  def jobs: Seq[String]
  def order(pass: Int): Seq[String]
  def run(job: String, tr: Tracer, check: Boolean): JobOutcome
  /** Named streaming and MapReduce jobs, for the `mr`/`streaming` layers. */
  def mrJobs: Set[String] = Set.empty
  def streamJobs: Set[String] = Set.empty
  def corpusBytes: Long = 0L
  /** Per-job facts only this workload knows (stream progress). */
  val facts = mutable.Map.empty[String, Map[String, Double]]
}

/** `olap-*` and `iter-*`: registered queries on a parquet table dir,
  * each built by `SparkEntry.queries(name)` and forced with a `noop`
  * write — the path `graft.Bench` times. The seed permutes job order
  * within each pass; the tables never change. A check pass replaces the
  * `noop` write with [[Checks.digest]] and compares it to the pin. */
final class QueryWorkload(spark: SparkSession, dataDir: String,
    val jobs: Seq[String], seed: Long,
    pins: Map[String, (Long, String)]) extends Workload {

  def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(jobs)

  def run(job: String, tr: Tracer, check: Boolean): JobOutcome = {
    val c = tr.open("construct")
    val df = try SparkEntry.queries(job)(spark, dataDir) finally tr.close(c)
    if (Main.traced) {
      // sampled after the span closes, so tracing adds nothing to it
      val (n, mem, disk) = Caches.storageBytes(spark)
      c.attrs("cached_rdds") = n
      c.attrs("cached_bytes") = mem + disk
    }
    val got = if (check) Some(tr.span("check")(_ => Checks.digest(df)))
      else {
        tr.span("action")(_ => df.write.format("noop").mode("overwrite").save())
        None
      }
    tr.span("reclaim")(s => s.attrs("reclaimed_rdds") = Caches.strayUnpersist(spark))
    got match {
      case None => JobOutcome(None)
      case Some(d) if pins.get(job).contains(d) => JobOutcome(None)
      case Some(d) => JobOutcome(Some(
        s"$job: got rows=${d._1} digest=${d._2}, pinned ${pins.get(job)}"))
    }
  }
}

/** `mr-lines`: the reference's own job contract on a generated
  * line-oriented corpus. Four jobs per pass, always in this order:
  * `exe_wc` (shell mapper/reducer through [[MapReduceDriver]]),
  * `typed_wc` (no combiner), `combiner_wc` (`typedWithCombiner`) and
  * `stream_sum` (a `linedir` micro-batch replay into a stateful sum).
  * Every pass checks that the three word counts agree line for line and
  * that the stream's final state equals the batch counts. */
final class MrLinesWorkload(spark: SparkSession, work: Path, seed: Long,
    files: Int, linesPerFile: Int, vocab: Int, cpus: Int) extends Workload {

  val jobs = Seq("exe_wc", "typed_wc", "combiner_wc", "stream_sum")
  def order(pass: Int): Seq[String] = jobs
  override val mrJobs = Set("exe_wc", "typed_wc", "combiner_wc")
  override val streamJobs = Set("stream_sum")

  private val corpus = work.resolve("corpus")
  private val numMappers = cpus
  private val numReducers = cpus
  private var bytes = 0L
  override def corpusBytes: Long = bytes

  /** Seeded corpus: `files` text files of lines of 4–15 words drawn from
    * a Zipf(1.0) vocabulary of `vocab` lower-case words. */
  def generate(): Unit = {
    Files.createDirectories(corpus)
    val rnd = new scala.util.Random(seed)
    val words = Array.tabulate(vocab) { _ =>
      val n = 2 + rnd.nextInt(8)
      new String(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
    }
    val cdf = {
      val w = Array.tabulate(vocab)(i => 1.0 / (i + 1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      words(math.min(vocab - 1, if (i >= 0) i else -i - 1))
    }
    for (f <- 0 until files) {
      val sb = new java.lang.StringBuilder
      for (_ <- 0 until linesPerFile) {
        val n = 4 + rnd.nextInt(12)
        for (k <- 0 until n) { if (k > 0) sb.append(' '); sb.append(word()) }
        sb.append('\n')
      }
      val b = sb.toString.getBytes(StandardCharsets.UTF_8)
      bytes += b.length
      Files.write(corpus.resolve(f"in-$f%04d.txt"), b)
    }
  }

  private def exe(name: String, script: String): String = {
    val p = work.resolve(name)
    Files.write(p, script.getBytes(StandardCharsets.UTF_8))
    p.toFile.setExecutable(true)
    p.toString
  }
  private lazy val mapExe = exe("wc_map.sh",
    "#!/bin/sh\ntr ' ' '\\n' | grep -v '^$' | sed 's/$/\\t1/'\n")
  private lazy val reduceExe = exe("wc_reduce.sh",
    "#!/bin/sh\nLC_ALL=C awk -F'\\t' '{ if ($1 != prev) { if (NR > 1) print prev \"\\t\" sum;\n" +
      "  prev = $1; sum = 0 } sum += $2 } END { if (NR > 0) print prev \"\\t\" sum }'\n")

  private val driver = new MapReduceDriver(spark)
  private def out(job: String): Path = work.resolve(s"out-$job")

  /** The first word count's part-file digest; every later one must match. */
  private var refSha: Option[String] = None

  def run(job: String, tr: Tracer, check: Boolean): JobOutcome = {
    val outDir = out(job).toString
    job match {
      case "exe_wc" =>
        val id = tr.span("construct")(_ => driver.submit(MrJob(corpus.toString,
          outDir, mapExe, reduceExe, numMappers, numReducers)))
        val ran = tr.span("action")(_ => driver.runPending())
        reclaim(tr)
        if (!ran.contains(id))
          return JobOutcome(Some(s"exe_wc: job $id failed: " +
            driver.failed.find(_._1 == id).map(_._2.toString).getOrElse("?")))
      case "typed_wc" | "combiner_wc" =>
        val counted = tr.span("construct") { _ =>
          val input = MapReduceJob.inputRdd(spark, corpus.toString, numMappers)
          if (job == "typed_wc")
            MapReduceJob.typed(spark, input, MrLinesWorkload.mapper,
              MrPack.sumRuns, numReducers)
          else MapReduceJob.typedWithCombiner(spark, input, MrLinesWorkload.mapper,
            MrPack.sumRuns, MrPack.sumRuns, numReducers)
        }
        tr.span("action")(_ => MapReduceJob.writePartFiles(counted, outDir))
        reclaim(tr)
      case "stream_sum" =>
        val ckpt = work.resolve("stream-ckpt")
        Main.deleteTree(ckpt)
        val q = tr.span("construct") { _ =>
          spark.readStream.format("linedir")
            .option("maxFilesPerTrigger", math.max(1, files / 4))
            .load(corpus.toString)
            .selectExpr("explode(split(value, ' ')) AS word")
            .where("word != ''")
            .groupBy("word").count()
            .writeStream.format("memory").queryName("stream_sum")
            .outputMode("complete")
            .option("checkpointLocation", ckpt.toString)
            .trigger(Trigger.AvailableNow())
        }
        val progress = tr.span("action") { _ =>
          val h = q.start()
          h.awaitTermination()
          h.recentProgress.toSeq
        }
        reclaim(tr)
        facts(job) = streamFacts(progress)
        val state = spark.table("stream_sum").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        spark.catalog.dropTempView("stream_sum")
        val batch = Checks.readCounts(out("typed_wc"))
        if (state != batch)
          return JobOutcome(Some(s"stream_sum: final state (${state.size} words)" +
            s" differs from the batch counts (${batch.size} words)"))
        return JobOutcome(None)
    }
    // the three word counts must agree line for line, on every pass
    val sha = Checks.partFilesSha(out(job))
    if (refSha.isEmpty) refSha = Some(sha)
    if (refSha.contains(sha)) JobOutcome(None)
    else JobOutcome(Some(s"$job: part files differ from the other word counts"))
  }

  private def reclaim(tr: Tracer): Unit =
    tr.span("reclaim")(s => s.attrs("reclaimed_rdds") = Caches.strayUnpersist(spark))

  private def streamFacts(p: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])
      : Map[String, Double] = {
    def dur(k: String): Double =
      p.map(x => Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val batches = p.filter(_.numInputRows > 0)
    val last = p.lastOption.flatMap(_.stateOperators.headOption)
    Map(
      "batches" -> batches.size.toDouble,
      "rows" -> batches.map(_.numInputRows).sum.toDouble,
      "latest_offset_ms" -> dur("latestOffset"),
      "add_batch_ms" -> dur("addBatch"),
      "wal_commit_ms" -> dur("walCommit"),
      "state_rows" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state_mem_bytes" -> last.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "batch_p50_ms" -> Stats.median(batches.map(_.batchDuration.toDouble)))
  }
}

object MrLinesWorkload {
  /** The typed jobs' mapper: `word\t1` per space-separated word. Lives on
    * the companion so the task closure does not capture the workload. */
  def mapper(line: String): Iterator[String] =
    line.split(" ").iterator.filter(_.nonEmpty).map(w => s"$w\t1")
}
