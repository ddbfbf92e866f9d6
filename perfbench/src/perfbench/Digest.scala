package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result.
  *
  * Every column of every row is rendered to a canonical string (columns in
  * name order, map entries in key order, timestamps as UTC instants), each
  * row is hashed with MD5, and the first eight bytes of the row hashes are
  * summed modulo 2^64. The sum is a multiset digest: row order and
  * partitioning cannot change it, while a changed, missing or duplicated
  * row does. The column names are folded in, so a renamed column is a
  * mismatch too.
  */
object Digest {

  /** Collects `df` (every column is materialized; a collect adds no
    * exchange) and digests the rows.
    */
  def of(df: DataFrame): String = {
    val rows = df.collect()
    ofRows(df.schema, rows.toSeq)
  }

  def ofRows(schema: StructType, rows: Seq[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = hash64(order.map(schema.fieldNames(_)).mkString("\u0001"))
    rows.foreach { r =>
      sum += hash64(order.map(i => canon(r.get(i))).mkString("\u0001"))
    }
    f"n=${rows.size}%d h=$sum%016x"
  }

  private def hash64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  private def canon(v: Any): String = v match {
    case null => "␀"
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (canon(k), canon(x)) }.sortBy(_._1)
        .map { case (k, x) => s"$k->$x" }.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }
}
