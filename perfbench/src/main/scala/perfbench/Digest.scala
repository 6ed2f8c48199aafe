package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import scala.util.hashing.MurmurHash3

/** Order-independent digest of a complete query result: the schema, the
  * row count and the 64-bit sum of one hash per row over every column.
  * Values are rendered canonically first, so -0.0 equals 0.0, decimals
  * compare by value, and nested arrays, maps and structs are covered. */
object Digest {

  def of(schema: StructType, rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += hash64(r.toSeq.map(canon).mkString("\u0001")))
    val shape = schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    f"rows=${rows.length};sum=$sum%016x;schema=${hash64(shape)}%016x"
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x27d4eb2f).toLong & 0xffffffffL)

  def canon(v: Any): String = v match {
    case null => "\u0000"
    // length-prefixed, so no string can imitate a separator or an empty list
    case s: String => s"${s.length}:$s"
    case d: Double => if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float => if (f == 0.0f) "0.0" else java.lang.Float.toString(f)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
