package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-independent fingerprint of a query result: the row count and the
  * sum of a per-row hash. Columns are taken in name order and cast to
  * string, so the fingerprint follows the DuckDB oracle's comparison
  * (columns sorted by name, rows as a bag, values compared by value).
  */
final case class Fingerprint(rows: Long, hash: String) {
  def line(name: String): String = s"$name\t$rows\t$hash"
}

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val byName = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cells = byName.map(i => coalesce(col(s"c$i").cast("string"), lit("\u0000")))
    val row = positional
      .select(xxhash64(cells.toSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    Fingerprint(row.getLong(0), Option(row.getDecimal(1)).fold("0")(_.toPlainString))
  }

  /** Golden fingerprints, one `name<TAB>rows<TAB>hash` line each. A hash of
    * `-` means the query has no oracle, so only the row count is checked.
    */
  def load(path: String): Map[String, Fingerprint] =
    Files.readAllLines(Paths.get(path)).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, r, h) = l.split("\t")
        n -> Fingerprint(r.toLong, h)
      }.toMap

  /** None when `got` matches the golden entry for `name`. */
  def compare(name: String, golden: Map[String, Fingerprint], got: Fingerprint): Option[String] =
    golden.get(name) match {
      case None => Some(s"no golden fingerprint for $name")
      case Some(g) if g.rows != got.rows => Some(s"rows ${got.rows} != golden ${g.rows}")
      case Some(g) if g.hash != "-" && g.hash != got.hash => Some(s"hash ${got.hash} != golden ${g.hash}")
      case _ => None
    }
}
