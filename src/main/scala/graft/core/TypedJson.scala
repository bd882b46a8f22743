package graft.core

import java.sql.{Date, Timestamp}
import java.time.{Duration, Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Typed JSON codec for the sidecar metadata format.
  *
  * Plain JSON extended with single-key typed objects so temporal bound
  * values round-trip (format per the reference sidecar codec, padawan
  * `json_io.py:6-52`):
  *   - `{"$datetime": "2022-01-01T23:00:00"}`    -> TimestampType value
  *   - `{"$date": "2022-01-01"}`                 -> DateType value
  *   - `{"$timedelta": "<days>d<secs>s<usecs>u"}`-> DayTimeIntervalType value
  *
  * Two graft extensions keep NUMERIC bounds exact where bare JSON
  * numbers cannot:
  *   - `{"$float": "NaN"|"Infinity"|"-Infinity"}` -> non-finite Double.
  *     The bare tokens `NaN`/`Infinity` are not JSON — emitting them
  *     (as a naive `toString` would) corrupts the whole sidecar for
  *     every later reader.
  *   - `{"$decimal": "<plain string>"}` -> java.math.BigDecimal,
  *     decoded via the string constructor. A bare JSON number would
  *     round-trip through Double (or wrap past Long) and silently
  *     shift a >15-significant-digit DecimalType bound — unsound for
  *     pruning.
  *
  * Timestamps are encoded as UTC wall-clock (the engine pins the session
  * time zone to UTC). Durations are normalized the way Python's timedelta
  * is: days may be negative, seconds in [0, 86400), microseconds in
  * [0, 1e6).
  */
object TypedJson {

  final class DecodingError(msg: String) extends RuntimeException(msg)

  private val mapper = new ObjectMapper()
  private val TimedeltaRe = "^(-?\\d+)d(\\d+)s(\\d+)u$".r
  private val DtFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val DtFmtMicros =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  // ---- encoding ----

  def write(value: Any): String = {
    val sb = new StringBuilder
    writeTo(sb, value)
    sb.toString
  }

  private def writeTo(sb: StringBuilder, value: Any): Unit = value match {
    case null | None => sb.append("null")
    case Some(v)     => writeTo(sb, v)
    case s: String   => writeString(sb, s)
    case b: Boolean  => sb.append(if (b) "true" else "false")
    case i: Int      => sb.append(i)
    case l: Long     => sb.append(l)
    case s: Short    => sb.append(s.toInt)
    case b: Byte     => sb.append(b.toInt)
    case f: Float    => writeDouble(sb, f.toDouble)
    case d: Double   => writeDouble(sb, d)
    case d: java.math.BigDecimal =>
      sb.append("{\"$decimal\": "); writeString(sb, d.toPlainString)
      sb.append('}')
    case d: scala.math.BigDecimal =>
      sb.append("{\"$decimal\": ")
      writeString(sb, d.underlying.toPlainString); sb.append('}')
    case ts: Timestamp =>
      val ldt = ts.toInstant.atZone(ZoneOffset.UTC).toLocalDateTime
      val s =
        if (ldt.getNano == 0) ldt.format(DtFmt) else ldt.format(DtFmtMicros)
      sb.append("{\"$datetime\": "); writeString(sb, s); sb.append('}')
    case i: Instant =>
      val ldt = i.atZone(ZoneOffset.UTC).toLocalDateTime
      val s =
        if (ldt.getNano == 0) ldt.format(DtFmt) else ldt.format(DtFmtMicros)
      sb.append("{\"$datetime\": "); writeString(sb, s); sb.append('}')
    case ldt: LocalDateTime => // TimestampNTZType external value
      val s =
        if (ldt.getNano == 0) ldt.format(DtFmt) else ldt.format(DtFmtMicros)
      sb.append("{\"$datetime\": "); writeString(sb, s); sb.append('}')
    case d: Date =>
      sb.append("{\"$date\": "); writeString(sb, d.toLocalDate.toString)
      sb.append('}')
    case d: LocalDate =>
      sb.append("{\"$date\": "); writeString(sb, d.toString); sb.append('}')
    case d: Duration =>
      val totalMicros = d.toNanos / 1000L
      val microsPerDay = 86400L * 1000000L
      val days = Math.floorDiv(totalMicros, microsPerDay)
      val rem = Math.floorMod(totalMicros, microsPerDay)
      val secs = rem / 1000000L
      val usecs = rem % 1000000L
      sb.append("{\"$timedelta\": ")
      writeString(sb, s"${days}d${secs}s${usecs}u")
      sb.append('}')
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, v) =>
        if (!first) sb.append(", ")
        first = false
        writeString(sb, k.toString); sb.append(": "); writeTo(sb, v)
      }
      sb.append('}')
    case it: Iterable[_] =>
      sb.append('[')
      var first = true
      it.foreach { v =>
        if (!first) sb.append(", ")
        first = false
        writeTo(sb, v)
      }
      sb.append(']')
    case other =>
      throw new IllegalArgumentException(
        s"Object of type ${other.getClass} is not JSON serializable")
  }

  private def writeDouble(sb: StringBuilder, d: Double): Unit =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) {
      sb.append("{\"$float\": "); writeString(sb, d.toString); sb.append('}')
    } else if (d == d.toLong.toDouble && math.abs(d) < 1e15)
      sb.append(d.toLong).append(".0")
    else sb.append(d)

  private def writeString(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.append('"')
  }

  // ---- decoding ----

  /** Parse JSON text into Scala values (Map/Vector/String/Long/Double/
    * Boolean/null), decoding typed objects into Timestamp/Date/Duration.
    */
  def parse(text: String): Any = fromNode(mapper.readTree(text))

  private def fromNode(n: JsonNode): Any = {
    if (n.isNull) null
    else if (n.isTextual) n.asText()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isArray) {
      // manual builder loop: a 10^5-file sidecar decodes millions of
      // nodes, and the iterator/CanBuildFrom indirection showed up as
      // the dominant large-table load cost (SidecarScaleBench)
      val b = Vector.newBuilder[Any]
      val it = n.elements()
      while (it.hasNext) b += fromNode(it.next())
      b.result()
    } else if (n.isObject) {
      if (n.size() == 1) {
        val k = n.fieldNames().next()
        val v = n.get(k)
        k match {
          case "$datetime" =>
            val ldt = LocalDateTime.parse(v.asText())
            Timestamp.from(ldt.atZone(ZoneOffset.UTC).toInstant)
          case "$date" => Date.valueOf(LocalDate.parse(v.asText()))
          case "$float" =>
            v.asText() match {
              case "NaN"       => Double.NaN
              case "Infinity"  => Double.PositiveInfinity
              case "-Infinity" => Double.NegativeInfinity
              case other =>
                throw new DecodingError(
                  s"Expecting non-finite float token but got '$other'")
            }
          case "$decimal" => new java.math.BigDecimal(v.asText())
          case "$timedelta" =>
            v.asText() match {
              case TimedeltaRe(d, s, u) =>
                Duration
                  .ofDays(d.toLong)
                  .plusSeconds(s.toLong)
                  .plusNanos(u.toLong * 1000L)
              case other =>
                throw new DecodingError(
                  s"Expecting timedelta expression but got '$other'")
            }
          case _ => Map(k -> fromNode(v))
        }
      } else {
        // build the Map directly from the entry iterator — the old
        // properties().asScala Set materialization hashed a tuple per
        // field of every object in the document
        val b = Map.newBuilder[String, Any]
        val it = n.properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          b += (e.getKey -> fromNode(e.getValue))
        }
        b.result()
      }
    } else throw new DecodingError(s"Unsupported JSON node: $n")
  }
}
