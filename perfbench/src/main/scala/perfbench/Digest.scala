package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a whole result: every row and every column
  * is read, through the DataFrame's own physical plan (its final sort
  * included), by one `foreachPartition` action. Cells are canonicalised
  * the way the DuckDB comparator `tools/check.py` does (doubles rounded
  * to 6 decimals, -0.0 == 0.0), so a digest names a result, not the
  * floating-point order a shuffle happened to sum in.
  */
object Digest {
  final case class D(rows: Long, hash: Long) {
    override def toString: String = f"$rows:$hash%016x"
  }

  def parse(s: String): D = {
    val Array(r, h) = s.split(":")
    D(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  def of(df: DataFrame): D = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator("perfbench.rows")
    val sum = sc.longAccumulator("perfbench.digest")
    df.foreachPartition { (it: Iterator[Row]) =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += mix(value(r)) }
      rows.add(n); sum.add(h)
    }
    D(rows.value, sum.value)
  }

  /** splitmix64 finaliser. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def ordered(xs: Iterator[Long]): Long =
    xs.foldLeft(0x3C6EF372FE94F82AL)((acc, x) => mix(acc * 31 + x))

  private def bytes(b: Array[Byte]): Long = ordered(b.iterator.map(_.toLong))

  private def double(d: Double): Long =
    if (d.isNaN) 0x7FF8000000000001L
    else if (d.isInfinite) (if (d > 0) 0x7FF0000000000002L else 0xFFF0000000000002L)
    else {
      val r = math.rint(d * 1e6)
      if (math.abs(r) < 9.0e15) mix(r.toLong) else mix(java.lang.Double.doubleToLongBits(d))
    }

  def value(v: Any): Long = v match {
    case null => 0x5BD1E9955BD1E995L
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case l: Long => mix(l)
    case i: Int => mix(i.toLong)
    case s: Short => mix(s.toLong)
    case b: Byte => mix(b.toLong)
    case b: Boolean => if (b) 0x1L else 0x2L
    case s: String => bytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case b: Array[Byte] => bytes(b) ^ 0x0F0F0F0F0F0F0F0FL
    case d: java.math.BigDecimal => bytes(d.toPlainString.getBytes)
    case d: BigDecimal => bytes(d.bigDecimal.toPlainString.getBytes)
    case t: java.sql.Timestamp => mix(Math.floorDiv(t.getTime, 1000L) * 1000000000L + t.getNanos)
    case d: java.sql.Date => mix(d.toLocalDate.toEpochDay)
    case t: java.time.Instant => mix(t.getEpochSecond * 1000000000L + t.getNano)
    case t: java.time.LocalDateTime => value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.time.LocalDate => mix(d.toEpochDay)
    case r: Row => ordered((0 until r.length).iterator.map(i => value(r.get(i))))
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => mix(value(k) * 31 + value(x)) }.sum
    case s: scala.collection.Iterable[_] => ordered(s.iterator.map(value)) ^ 0x1234L
    case a: Array[_] => ordered(a.iterator.map(value)) ^ 0x1234L
    case o => bytes(o.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
