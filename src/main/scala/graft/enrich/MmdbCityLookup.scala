package graft.enrich

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row City lookup against a MaxMind `.mmdb` database — the
  * reference's `geoip` action resolution (`actiongeoip.go:117-168`):
  * parse the IP, walk the search tree, map the GeoIP2 City record to the
  * flat geo struct. Null when the IP doesn't parse, the tree has no
  * record, or the record's `city.geoname_id` is 0/absent (the
  * reference's "Not found, ignore" branch, actiongeoip.go:134-137).
  *
  * The expression carries only the database PATH; the parsed reader is a
  * per-JVM singleton ([[Mmdb.cached]]). Each row looks up once, with no
  * cross-row cache in place of the reference's LRU(1000): callers bind
  * the lookup as a column ([[GeoIp.enrichMmdb]]). Codegen'd — the lookup
  * stays inside the projection's whole-stage span.
  */
case class MmdbCityLookup(child: Expression, path: String) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mmdb_city_lookup"

  override val dataType: DataType = MmdbCityLookup.geoStructType

  override def nullSafeEval(input: Any): Any =
    MmdbCityLookup.lookupRow(Mmdb.cached(path), input.asInstanceOf[UTF8String].toString)

  def evalInput(s: Any): AnyRef = nullSafeEval(s).asInstanceOf[AnyRef]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mmdbLookup", this, classOf[MmdbCityLookup].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.evalInput($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): MmdbCityLookup =
    copy(child = c)
}

/** IP-literal validity per `net.ParseIP` (v4 dotted-quad or v6 colon
  * form) — distinguishes the reference's "not a valid IP address" error
  * (actiongeoip.go:119-122) from a valid-but-unknown address.
  */
case class IpValid(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ip_valid"
  override val dataType: DataType = BooleanType

  override def nullSafeEval(input: Any): Any =
    MmdbCityLookup.parsesAsIp(input.asInstanceOf[UTF8String].toString)

  def evalInput(s: Any): Boolean =
    nullSafeEval(s).asInstanceOf[java.lang.Boolean].booleanValue()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ipValid", this, classOf[IpValid].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalInput($c);")
  }

  override protected def withNewChildInternal(c: Expression): IpValid =
    copy(child = c)
}

object MmdbCityLookup {

  /** Same shape as [[GeoIp.lookupFrame]]'s `_geo` struct (the
    * actiongeoip.go:148-162 field set), so both enrich paths feed the
    * identical downstream struct-merge logic.
    */
  val geoStructType: StructType = StructType(Seq(
    StructField("city_name", StringType),
    StructField("continent_name", StringType),
    StructField("country_iso_code", StringType),
    StructField("country_name", StringType),
    StructField("location", ArrayType(DoubleType, containsNull = false)),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("postal_code", StringType),
    StructField("timezone", StringType),
    StructField("region_iso_code", StringType),
    StructField("region_name", StringType)))

  def parsesAsIp(s: String): Boolean = ipBytes(s).isDefined

  /** Literal-only IP parse (no DNS), shared with [[MmdbReader.parseIp]]
    * semantics.
    */
  private[enrich] def ipBytes(s: String): Option[Array[Byte]] =
    try {
      if (s == null || s.isEmpty) None
      else if (s.forall(c => c.isDigit || c == '.')) {
        val parts = s.split("\\.", -1)
        if (parts.length != 4 || parts.exists(p => p.isEmpty || p.length > 3)) None
        else {
          val b = new Array[Byte](4)
          var ok = true
          for (i <- 0 until 4) {
            val v = parts(i).toInt
            if (v > 255) ok = false else b(i) = v.toByte
          }
          if (ok) Some(b) else None
        }
      } else if (s.contains(":"))
        Some(java.net.InetAddress.getByName(s).getAddress)
      else None
    } catch { case _: Exception => None }

  /** GeoIP2 City record → geo struct row (actiongeoip.go:148-162: "en"
    * names; absent names/codes → Go's "" zero value since the record
    * exists; region fields only when subdivisions is non-empty — the
    * reference doesn't set those keys at all otherwise, hence null).
    */
  private[enrich] def lookupRow(reader: MmdbReader, ip: String): GenericInternalRow = {
    val bytes = ipBytes(ip).orNull
    if (bytes == null) return null
    reader.lookup(bytes) match {
      case Some(m: java.util.Map[_, _]) =>
        val rec = m.asInstanceOf[java.util.Map[String, Any]]
        def sub(name: String): java.util.Map[String, Any] =
          rec.get(name) match {
            case mm: java.util.Map[_, _] => mm.asInstanceOf[java.util.Map[String, Any]]
            case _ => java.util.Collections.emptyMap[String, Any]()
          }
        def en(m: java.util.Map[String, Any]): String =
          m.get("names") match {
            case names: java.util.Map[_, _] =>
              names.asInstanceOf[java.util.Map[String, Any]].get("en") match {
                case s: String => s
                case _ => ""
              }
            case _ => ""
          }
        def str(m: java.util.Map[String, Any], k: String): String =
          m.get(k) match { case s: String => s; case _ => "" }
        def dbl(m: java.util.Map[String, Any], k: String): Double =
          m.get(k) match {
            case d: java.lang.Double => d.doubleValue()
            case l: java.lang.Long => l.doubleValue()
            case _ => 0.0
          }
        val city = sub("city")
        // GeoNameID == 0 → "Not found, ignore" (actiongeoip.go:134-137)
        val geonameId = city.get("geoname_id") match {
          case l: java.lang.Long => l.longValue()
          case _ => 0L
        }
        if (geonameId == 0L) return null
        val location = sub("location")
        val lon = dbl(location, "longitude")
        val lat = dbl(location, "latitude")
        val subdivisions = rec.get("subdivisions") match {
          case l: java.util.List[_] if !l.isEmpty =>
            l.get(0).asInstanceOf[java.util.Map[String, Any]]
          case _ => null
        }
        def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
        new GenericInternalRow(Array[Any](
          u(en(city)),
          u(en(sub("continent"))),
          u(str(sub("country"), "iso_code")),
          u(en(sub("country"))),
          new GenericArrayData(Array[Any](lon, lat)),
          lat, lon,
          u(str(sub("postal"), "code")),
          u(str(location, "time_zone")),
          if (subdivisions == null) null else u(str(subdivisions, "iso_code")),
          if (subdivisions == null) null else u(en(subdivisions))))
      case _ => null
    }
  }

  def apply(c: Column, path: String): Column =
    EU.column(MmdbCityLookup(EU.expression(c), path))

  def ipValid(c: Column): Column = EU.column(IpValid(EU.expression(c)))
}
