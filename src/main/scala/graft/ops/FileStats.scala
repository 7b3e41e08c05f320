package graft.ops

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{base64, regexp_replace, unix_date, unix_micros}
import org.apache.spark.sql.types._

import FileStats.{Bound, Doubles, Longs}

/** One manifest entry's per-file statistics, decoded: the file's row
  * count and on-disk bytes, and per PHYSICAL column name its logged
  * bounds, Bloom filter, HLL sketch and null count. The companion is
  * the only code that knows the `stats_json` text and how each Spark
  * type is logged in it.
  *
  * Lookups take the column's [[StructField]] from the logged schema
  * and key on its physical name alone — a logical name never matches,
  * so after a rename swap a column cannot answer with another
  * column's statistics.
  *
  * The fields keep the document's order (Bloom filters, then sketches,
  * then bounds, each in registration order), so [[FileStats.encode]]
  * renders a written document byte for byte. */
final case class FileStats(
    rows: Option[Long] = None,
    bytes: Option[Long] = None,
    blooms: Seq[(String, String)] = Nil,
    sketches: Seq[(String, (String, Long))] = Nil,
    bounds: Seq[(String, Bound)] = Nil) {

  private def at[T](kv: Seq[(String, T)], f: StructField): Option[T] = {
    val k = Versioned.physicalNameOf(f)
    kv.collectFirst { case (`k`, v) => v }
  }

  /** The column's serialized Bloom filter. */
  def bloom(f: StructField): Option[Array[Byte]] =
    at(blooms, f).map(java.util.Base64.getDecoder.decode)

  /** The column's serialized HLL sketch and its exact null count — the
    * planner trusts a distinct count only with both. */
  def sketch(f: StructField): Option[(Array[Byte], Long)] =
    at(sketches, f).map { case (b, nulls) =>
      (java.util.Base64.getDecoder.decode(b), nulls) }

  /** The column's [min, max] in column units, as doubles — what a
    * range filter compares against: dates in epoch days, timestamps
    * in epoch micros, decimals divided back to their scale (exactly,
    * via BigDecimal). */
  def units(f: StructField): Option[(Double, Double)] =
    at(bounds, f).map {
      case Longs(mn, mx) => f.dataType match {
        case d: DecimalType =>
          (java.math.BigDecimal.valueOf(mn, d.scale).doubleValue,
            java.math.BigDecimal.valueOf(mx, d.scale).doubleValue)
        case _ => (mn.toDouble, mx.toDouble)
      }
      case Doubles(mn, mx) => (mn, mx)
    }

  /** The column's [min, max] as the Catalyst value classes a
    * `ColumnStat` carries for its type (Int epoch days, Long epoch
    * micros, `Decimal` at the declared scale) — what ANALYZE TABLE
    * would store; None for a type with no such bound. */
  def catalyst(f: StructField): Option[(Any, Any)] = {
    def long(v: Long): Option[Any] = f.dataType match {
      case ByteType => Some(v.toByte)
      case ShortType => Some(v.toShort)
      case IntegerType | DateType => Some(v.toInt)
      case LongType | TimestampType => Some(v)
      case dt: DecimalType if dt.precision <= 18 =>
        Some(Decimal(v, dt.precision, dt.scale))
      case _ => None
    }
    def double(v: Double): Option[Any] = f.dataType match {
      case FloatType => Some(v.toFloat)
      case DoubleType => Some(v)
      case _ => None
    }
    at(bounds, f).flatMap {
      case Longs(mn, mx) => long(mn).zip(long(mx))
      case Doubles(mn, mx) => double(mn).zip(double(mx))
    }
  }
}

object FileStats {

  /** A logged [min, max]: integral (`"t":"l"`) or floating (`"t":"d"`). */
  sealed trait Bound
  final case class Longs(min: Long, max: Long) extends Bound
  final case class Doubles(min: Double, max: Double) extends Bound

  val empty: FileStats = FileStats()

  // ---------------------------------------------------------------- //
  // the writer's in-plan inputs                                      //
  // ---------------------------------------------------------------- //

  /** The min/max input of a stats column of type `dt`, or None for a
    * type whose bounds are not logged. Dates fold to epoch days and
    * timestamps to epoch micros IN PLAN — min/max commute with the
    * monotonic conversion, and no java.sql value meets the JVM
    * default time zone. Decimals up to 18 digits log their unscaled
    * long ([[boundOf]]); wider ones and other types log nothing and
    * are never pruned. */
  def boundInput(c: Column, dt: DataType): Option[Column] = dt match {
    case LongType | IntegerType | ShortType | ByteType |
        DoubleType | FloatType => Some(c)
    case d: DecimalType if d.precision <= 18 => Some(c)
    case DateType => Some(unix_date(c).cast("long"))
    case TimestampType => Some(unix_micros(c))
    case _ => None
  }

  /** The logged bound of one file whose [[boundInput]] aggregated to
    * (`mn`, `mx`); None when the column is all NULL in the file. */
  def boundOf(dt: DataType, mn: Any, mx: Any): Option[Bound] =
    if (mn == null || mx == null) None
    else dt match {
      case DoubleType | FloatType => Some(Doubles(
        mn.asInstanceOf[Number].doubleValue, mx.asInstanceOf[Number].doubleValue))
      case d: DecimalType =>
        // unscaled at the column's fixed scale — exact, where a double
        // would collide above 2^53
        def unscaled(v: Any) = v.asInstanceOf[java.math.BigDecimal]
          .setScale(d.scale).unscaledValue.longValueExact
        Some(Longs(unscaled(mn), unscaled(mx)))
      case _ => Some(Longs(
        mn.asInstanceOf[Number].longValue, mx.asInstanceOf[Number].longValue))
    }

  /** The HLL sketch input of a stats column of type `dt`, or None for a
    * type that is not sketched. Spark's `hll_sketch_agg` accepts only
    * int/bigint/string/binary (no implicit widening — short/byte fail
    * at analysis), so each type maps to a DISTINCT-PRESERVING long or
    * string: integrals all go through long, so every file's sketch
    * hashes the same physical type whatever the declared width; dates
    * become epoch days, timestamps epoch micros, decimals their
    * canonical string (exact at the fixed scale). */
  def sketchInput(c: Column, dt: DataType): Option[Column] = dt match {
    case LongType | IntegerType | ShortType | ByteType => Some(c.cast("long"))
    case StringType => Some(c)
    case DateType => Some(unix_date(c).cast("long"))
    case TimestampType => Some(unix_micros(c))
    case _: DecimalType => Some(c.cast("string"))
    case _ => None
  }

  /** A serialized Bloom filter or sketch as it is logged: continuous
    * base64. Spark's `base64` chunks with CR/LF (MIME), which is
    * illegal inside a JSON string. */
  def loggedBytes(bytes: Column): Column =
    regexp_replace(base64(bytes), "[\\r\\n]", "")

  // ---------------------------------------------------------------- //
  // the document                                                     //
  // ---------------------------------------------------------------- //

  /** The `stats_json` text of `s`: `#rows`, `#bytes`, `#bloom:<c>`,
    * then `#hll:<c>` with its `#nulls:<c>`, then one bound per column,
    * numbers in their JVM rendering. */
  def encode(s: FileStats): String = {
    def longs(mn: Long, mx: Long) = s"""{"t":"l","mnl":$mn,"mxl":$mx}"""
    def exact(n: Long) = longs(n, n)
    val parts =
      s.rows.map(n => s""""#rows":${exact(n)}""").toSeq ++
      s.bytes.map(n => s""""#bytes":${exact(n)}""") ++
      s.blooms.map { case (c, b) => s""""#bloom:$c":{"t":"b","b":"$b"}""" } ++
      s.sketches.flatMap { case (c, (b, nulls)) =>
        Seq(s""""#hll:$c":{"t":"h","b":"$b"}""", s""""#nulls:$c":${exact(nulls)}""")
      } ++
      s.bounds.map {
        case (c, Longs(mn, mx)) => s""""$c":${longs(mn, mx)}"""
        case (c, Doubles(mn, mx)) => s""""$c":{"t":"d","mnd":$mn,"mxd":$mx}"""
      }
    parts.mkString("{", ",", "}")
  }

  /** Non-finite doubles are accepted: a float column holding NaN logs
    * `NaN` as its max. */
  private val json = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build()

  /** Parse one entry's `stats_json`. A missing or malformed document
    * decodes as [[empty]] — its file is kept by every pruning test and
    * reports no statistic — and so does a bound holding NaN, which
    * orders nothing. */
  def decode(sj: Option[String]): FileStats = sj.fold(empty) { s =>
    try {
      val doc = json.readTree(s)
      var rows, bytes = Option.empty[Long]
      val blooms = Seq.newBuilder[(String, String)]
      val hlls = Seq.newBuilder[(String, String)]
      val nulls = Map.newBuilder[String, Long]
      val bounds = Seq.newBuilder[(String, Bound)]
      for (e <- doc.properties().asScala) {
        val (k, v) = (e.getKey, e.getValue)
        def long(n: String): Option[Long] =
          Option(v.get(n)).filter(_.isIntegralNumber).map(_.longValue)
        def double(n: String): Option[Double] =
          Option(v.get(n)).filter(_.isNumber).map(_.doubleValue)
        def text(n: String): Option[String] =
          Option(v.get(n)).filter(_.isTextual).map(_.textValue)
        def after(prefix: String) = k.stripPrefix(prefix)
        if (k == "#rows") rows = long("mnl")
        else if (k == "#bytes") bytes = long("mnl")
        else if (k.startsWith("#bloom:")) text("b").foreach(blooms += after("#bloom:") -> _)
        else if (k.startsWith("#hll:")) text("b").foreach(hlls += after("#hll:") -> _)
        else if (k.startsWith("#nulls:")) long("mnl").foreach(nulls += after("#nulls:") -> _)
        else text("t") match {
          case Some("l") => long("mnl").zip(long("mxl"))
            .foreach { case (mn, mx) => bounds += k -> Longs(mn, mx) }
          case Some("d") => double("mnd").zip(double("mxd"))
            .filterNot { case (mn, mx) => mn.isNaN || mx.isNaN }
            .foreach { case (mn, mx) => bounds += k -> Doubles(mn, mx) }
          case _ =>
        }
      }
      val nullsOf = nulls.result()
      FileStats(rows, bytes, blooms.result(),
        hlls.result().flatMap { case (c, b) => nullsOf.get(c).map(n => c -> (b, n)) },
        bounds.result())
    } catch { case _: Exception => empty }
  }
}
