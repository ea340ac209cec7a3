package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive fingerprint of a result: the schema, the row count and
  * the wrapping sum of a 64-bit hash of every row's canonical text. Two
  * results with the same rows in any order fingerprint alike; a changed
  * value, a lost or extra row, or a changed column type does not. */
object Fingerprint {
  def canon(v: Any): String = v match {
    case null                  => "␀"
    case d: Double             => if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float              => if (f == 0.0f) "0.0" else java.lang.Float.toString(f)
    case b: Array[Byte]        => b.map(x => f"$x%02x").mkString("0x", "", "")
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal         => d.bigDecimal.toPlainString
    case r: Row                => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("map(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_]           => a.map(canon).mkString("[", ",", "]")
    case other                 => other.toString
  }

  def rowHash(fields: Seq[Any]): Long = {
    val s = fields.map(canon).mkString("\u0001")
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x0f1e)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  def of(schema: String, rows: Iterator[Seq[Any]]): String = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    val sh = scala.util.hashing.MurmurHash3.stringHash(schema, 7) & 0xffffffffL
    f"$n:$sh%08x:$sum%016x"
  }

  def ofRows(schema: StructType, rows: Array[Row]): String =
    of(schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","),
      rows.iterator.map(_.toSeq))
}

/** Minimal JSON-lines writer for the records the launcher reads. */
final class Records(path: String) {
  private val out = new java.io.PrintWriter(
    new java.io.OutputStreamWriter(new java.io.FileOutputStream(path), "UTF-8"))
  import Records.q

  private def v(x: Any): String = x match {
    case null           => "null"
    case s: String      => q(s)
    case d: Double      => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean     => b.toString
    case n: Int         => n.toString
    case n: Long        => n.toString
    case other          => q(other.toString)
  }

  def write(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.println((("kind" -> kind) +: fields)
      .map { case (k, x) => q(k) + ":" + v(x) }.mkString("{", ",", "}"))
    out.flush()
  }

  def close(): Unit = out.close()
}

object Records {
  /** A JSON string literal (quote, backslash and control characters escaped). */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
