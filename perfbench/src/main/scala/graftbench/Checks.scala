package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Output digests: an order-insensitive row hash plus the row count. */
object Checks {

  final case class Digest(rows: Long, hash: String)

  /** Sum over rows of xxhash64 of the row's JSON (columns sorted by name,
    * as the DuckDB comparison sorts them), summed exactly as DECIMAL so the
    * digest does not depend on row order or partitioning. */
  def digest(df: DataFrame): Digest = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cells = fields.map { case (f, i) =>
      val c = col(s"c$i")
      (if (f.dataType == BinaryType) base64(c) else c).as(f.name)
    }
    val row = renamed
      .select(xxhash64(to_json(struct(cells.toIndexedSeq: _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h"))
      .head()
    Digest(row.getLong(0), Option(row.getDecimal(1)).fold("0")(_.toString))
  }

  /** Expected digests: tab-separated `key rows hash` lines; `hash` is `-`
    * where only the row count is checked. */
  def load(p: Path): Map[String, Digest] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(k, rows, hash) = l.split("\t")
        k -> Digest(rows.toLong, hash)
      }.toMap

  def save(p: Path, header: String, m: Seq[(String, Digest)]): Unit = {
    Files.createDirectories(p.getParent)
    val lines = ("# " + header) +: m.sortBy(_._1).map { case (k, d) => s"$k\t${d.rows}\t${d.hash}" }
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }

  /** None when `got` matches `want`; otherwise what differs. */
  def compare(got: Digest, want: Digest): Option[String] =
    if (got.rows != want.rows) Some(s"rows ${got.rows} != expected ${want.rows}")
    else if (want.hash != "-" && got.hash != want.hash) Some(s"hash ${got.hash} != expected ${want.hash}")
    else None
}
