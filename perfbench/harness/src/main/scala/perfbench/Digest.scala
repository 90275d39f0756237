package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent digest of a collected result.
  *
  * Columns are visited in sorted-name order (as the DuckDB oracle compare
  * does), each row is rendered to a canonical string and hashed to 64 bits,
  * and the row hashes are summed modulo 2^64. The sum is a multiset hash: it
  * does not depend on row order or partitioning, and it changes when a row is
  * added, dropped, duplicated or altered.
  */
object Digest {

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val sb = new StringBuilder
      order.foreach { i => render(r.get(i), sb); sb.append('\u0001') }
      val h = md.digest(sb.toString.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h).getLong
    }
    f"${rows.length}%d:$sum%016x"
  }

  private def render(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("∅")
    case r: Row =>
      sb.append('(')
      r.toSeq.foreach { x => render(x, sb); sb.append(',') }
      sb.append(')')
    case b: Array[Byte] => b.foreach(x => sb.append(f"$x%02x"))
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val e = new StringBuilder; render(k, e); e.append("->"); render(x, e); e.toString
      }.sorted
      sb.append(parts.mkString("{", ",", "}"))
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.foreach { x => render(x, sb); sb.append(',') }
      sb.append(']')
    case d: java.math.BigDecimal => sb.append(d.toPlainString)
    // renderings that do not depend on the JVM time zone
    case t: java.sql.Timestamp => sb.append(t.getTime / 1000).append('.').append(t.getNanos)
    case d: java.sql.Date => sb.append(d.toLocalDate)
    case x => sb.append(x.toString)
  }
}
