package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result, computed the same way by
  * `digest.py` over the DuckDB oracle's rows, so the two engines can be
  * compared without shipping rows between processes.
  *
  * Normalization follows the repository's local oracle gate: columns are
  * taken in name order and rows as a multiset. Cells compare exactly:
  * floats by their IEEE bits (so -0.0 and 0.0 differ, as they do in the
  * byte-sensitive gate), timestamps as UTC microseconds, dates as epoch
  * days.
  */
object Digest {

  final case class Result(digest: String, rows: Long)

  def of(schema: StructType, rows: Seq[Row]): Result = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val lines = rows.map(r => order.map { case (_, i) => cell(r.get(i)) }.mkString("\u001f"))
      .map(_.getBytes(UTF_8)).sortWith((a, b) => java.util.Arrays.compareUnsigned(a, b) < 0)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(_._1).mkString("cols:", ",", "\n").getBytes(UTF_8))
    lines.foreach { l => md.update(l); md.update('\n'.toByte) }
    Result(md.digest().map(b => f"${b & 0xff}%02x").mkString, rows.size.toLong)
  }

  private def bits(d: Double): String =
    if (d.isNaN) "f:nan" else f"f:${java.lang.Double.doubleToRawLongBits(d)}%016x"

  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "b:true" else "b:false"
    case x: Byte => "i:" + x
    case x: Short => "i:" + x
    case x: Int => "i:" + x
    case x: Long => "i:" + x
    case x: BigInt => "i:" + x
    case x: java.math.BigInteger => "i:" + x
    case x: Float => bits(x.toDouble)
    case x: Double => bits(x)
    case x: java.math.BigDecimal => "n:" + x.stripTrailingZeros.toPlainString
    case x: BigDecimal => "n:" + x.bigDecimal.stripTrailingZeros.toPlainString
    case s: String => "s:" + s.getBytes(UTF_8).length + ":" + s
    case t: java.sql.Timestamp => "t:" + micros(t.toInstant)
    case t: java.time.Instant => "t:" + micros(t)
    case t: java.time.LocalDateTime => "t:" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d:" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d:" + d.toEpochDay
    case a: Array[Byte] => "x:" + a.map(b => f"${b & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("m{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
}
