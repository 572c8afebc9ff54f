package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-independent digests of results: a digest never depends on row
  * order, partitioning or column order, so it is stable across seeds
  * that only permute inputs, and across re-runs of the same day.
  */
object Digest {

  /** `df` with positional column names (names may repeat or hold dots),
    * and the aggregates whose values form its digest: the row count, and
    * the sum of the low 31 bits and the xor of a 64-bit hash of each row
    * (columns in name order; a map becomes its sorted entry array).
    * Together they are a multiset digest: duplicates count.
    */
  private def prepared(df: DataFrame): (DataFrame, Seq[Column]) = {
    val byName = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = byName.map { case (f, i) =>
      val c = positional(s"c$i")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    (positional, Seq(count(lit(1)).as("n"),
      sum(h.bitwiseAND(lit(0x7fffffffL))).as("lo"), bit_xor(h).as("x")))
  }

  /** Wraps `df` so that any action on it also computes its digest. */
  def observed(df: DataFrame, obs: org.apache.spark.sql.Observation): DataFrame = {
    val (p, a) = prepared(df)
    p.observe(obs, a.head, a.tail: _*)
  }

  def render(r: Row): String =
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0L)}:${java.lang.Long.toHexString(
      Option(r.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L))}"

  /** Digest of a table, computed by one aggregation job. */
  def table(df: DataFrame): String = {
    val (p, a) = prepared(df)
    render(p.agg(a.head, a.tail: _*).head())
  }

  /** Digest of rows already fetched to the driver. */
  def rows(rs: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rs.map(_.toSeq.mkString("\u0001")).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update(0.toByte)
    }
    s"${rs.size}:" + md.digest().take(12).map("%02x".format(_)).mkString
  }
}
