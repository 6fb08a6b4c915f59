package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Shows the output checks do their job: a digest ignores row order and
  * partitioning but rejects any changed, dropped or duplicated row, and
  * the part-file comparison rejects a single changed line. */
object Selftest {
  def run(spark: SparkSession, work: Path): Map[String, Any] = {
    val base = spark.range(0, 2000).select(
      col("id"),
      concat(lit("w"), (col("id") % 97).cast("string")).as("word"),
      (col("id") / 7.0).as("ratio"),
      array(col("id"), col("id") * 2).as("pair"),
      map(lit("k"), col("id")).as("tags"))
    val d0 = Checks.digest(base)
    val cases = Seq(
      "reordered_rows_accepted" ->
        (Checks.digest(base.orderBy(col("id").desc).repartition(7)) == d0),
      "changed_cell_rejected" -> (Checks.digest(base.withColumn("ratio",
        when(col("id") === 1234, col("ratio") + 1e-9).otherwise(col("ratio")))) != d0),
      "dropped_row_rejected" -> (Checks.digest(base.where("id != 17")) != d0),
      "duplicated_row_rejected" ->
        (Checks.digest(base.union(base.where("id = 17"))) != d0),
      "changed_map_rejected" -> (Checks.digest(base.withColumn("tags",
        when(col("id") === 5, map(lit("k"), lit(-1L))).otherwise(col("tags")))) != d0),
      "column_order_accepted" ->
        (Checks.digest(base.select("word", "tags", "id", "pair", "ratio")) == d0),
      "renamed_column_rejected" ->
        (Checks.digest(base.withColumnRenamed("word", "w0")) != d0),
      "retyped_column_rejected" ->
        (Checks.digest(base.withColumn("id", col("id").cast("int"))) != d0))

    // part files: one changed count on one line must change the digest
    def write(dir: Path, lines: Seq[String]): Path = {
      Files.createDirectories(dir)
      lines.grouped(50).zipWithIndex.foreach { case (g, i) =>
        Files.write(dir.resolve(f"part-$i%05d"),
          g.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      }
      dir
    }
    val lines = (0 until 200).map(i => s"w$i\t${i * 3 + 1}")
    val a = write(work.resolve("selftest-a"), lines)
    val b = write(work.resolve("selftest-b"), lines.updated(123, "w123\t9999"))
    val c = write(work.resolve("selftest-c"), lines)
    val parts = Seq(
      "identical_part_files_accepted" ->
        (Checks.partFilesSha(a) == Checks.partFilesSha(c)),
      "changed_part_line_rejected" ->
        (Checks.partFilesSha(a) != Checks.partFilesSha(b)),
      "counts_parse_back" -> (Checks.readCounts(a) ==
        lines.map { l => val t = l.split("\t"); t(0) -> t(1).toLong }.toMap))
    val all = cases ++ parts
    Map("ok" -> all.forall(_._2), "cases" -> all.toMap)
  }
}
