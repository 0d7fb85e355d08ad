package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Order-independent fingerprint of a query result: the row count plus two
  * sums of per-row hashes over a canonical text form of each row. Columns
  * enter in name order (ties by position), every value is cast to string,
  * and null has its own marker, so the fingerprint depends on neither row
  * order nor partitioning. */
object Fingerprint {

  final case class FP(rows: Long, hash: String)

  /** `df` with the fingerprint attached as observed metrics: they are
    * computed while the action consumes the rows, with no extra job. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val named = df.schema.fields.map(_.name).zipWithIndex.sortBy(identity)
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val row = concat_ws("\u0001", named.toSeq.map { case (_, i) =>
      coalesce(col(s"c$i").cast("string"), lit("\u0000"))
    }: _*)
    val obs = Observation()
    (positional.observe(obs,
      count(lit(1)).as("rows"),
      sum(xxhash64(row).cast("decimal(38,0)")).as("h64"),
      sum(hash(row).cast("long")).as("h32")), obs)
  }

  /** The fingerprint of an observed action that has completed. */
  def get(obs: Observation): FP = {
    val r = Await.result(obs.future, 120.seconds)
    val h64 = Option(r.getAs[java.math.BigDecimal]("h64")).map(_.toString).getOrElse("0")
    val h32 = Option(r.getAs[java.lang.Long]("h32")).map(_.toString).getOrElse("0")
    FP(r.getAs[Long]("rows"), s"$h64:$h32")
  }

  /** `query \t rows \t hash` lines; `#` starts a comment. */
  def readExpected(p: Path): Map[String, FP] =
    Files.readAllLines(p).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(q, rows, h) = l.split("\t")
        q -> FP(rows.toLong, h)
      }.toMap
}
