package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Output checks. None of this runs inside a timed region. */
object Checks {

  /** Row count and an order-insensitive content digest of `df`: a hash of
    * the schema (names and types, in name order), then the sums, as exact
    * 38-digit decimals, of two independent hashes of every row. Row and
    * column order do not change it; any changed, added or dropped row,
    * renamed column or changed type does. Map columns go through
    * `to_json`, the one type Spark will not hash. */
  def digest(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields.sortBy(_.name)
    val schema = sha256(fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",").getBytes(StandardCharsets.UTF_8)).take(12)
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = fields.map { f =>
      if (hasMap(f.dataType)) to_json(col(s"`${f.name}`"))
      else col(s"`${f.name}`")
    }.toIndexedSeq
    val r = df.select(xxhash64(cols: _*).as("h1"), hash(cols: _*).as("h2"))
      .agg(count(lit(1)),
        sum(col("h1").cast("decimal(38,0)")),
        sum(col("h2").cast("decimal(38,0)")))
      .head()
    val rows = r.getLong(0)
    val s1 = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    val s2 = Option(r.getDecimal(2)).map(_.toPlainString).getOrElse("0")
    (rows, s"$schema:$s1:$s2")
  }

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  /** SHA-256 over a directory's `part-*` files, concatenated in name
    * order: equal exactly when the outputs agree line for line. */
  def partFilesSha(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    partFiles(dir).foreach(p => md.update(Files.readAllBytes(p)))
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  def partFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** `word\tcount` part files as a map. */
  def readCounts(dir: Path): Map[String, Long] =
    partFiles(dir).iterator.flatMap { p =>
      Files.readAllLines(p, StandardCharsets.UTF_8).asScala.map { l =>
        val tab = l.indexOf('\t')
        l.substring(0, tab) -> l.substring(tab + 1).toLong
      }
    }.toMap
}
