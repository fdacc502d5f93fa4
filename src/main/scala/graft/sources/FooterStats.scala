package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types._

/** Ordering of zone-map stat strings in the COLUMN'S VALUE DOMAIN.
  *
  * Zone stats are rendered as strings in manifests; comparing them
  * lexicographically is only correct for types whose string form is
  * order-preserving (plain strings). Numerics are NOT ("9" > "10" —
  * the r14 ADVICE bug), and date-truncated temporal stats summarize a
  * whole DAY (a zone hi of "1995-09-30" covers rows at 12:00 that day
  * — a string compare against a 10:00 probe would wrongly prune them).
  * So every stat and probe parses into an INTERVAL in a totally
  * ordered domain — numerics and temporals to a numeric [lo, hi]
  * (points for exact renderings, whole days for date renderings of
  * timestamp columns), strings to exact points — and pruning only
  * fires when intervals are PROVABLY disjoint. Any parse failure
  * degrades to "not comparable" and the caller must fail OPEN: zone
  * maps may only ever skip work, never change answers.
  */
private[graft] object ZoneOrder {
  /** Left((min, max)) in a numeric domain, Right(exact string point). */
  type Parsed = Either[(BigDecimal, BigDecimal), String]

  /** String stats order as UNSIGNED UTF-8 BYTES — the order parquet
    * footers store binary min/max in and the order Spark's UTF8String
    * comparisons (and therefore pushed string filters) use. Java's
    * String '>' compares UTF-16 code units, which DIVERGES for
    * supplementary characters (an emoji's surrogates sort below U+E000
    * in UTF-16 but above it in UTF-8 bytes) — a zone "provably
    * disjoint" under the wrong order silently drops matching rows
    * (r15 ADVICE, high). */
  private[graft] def utf8Cmp(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  private val DayMicros = 86400000000L

  private def num(s: String): Option[Parsed] =
    try { val x = BigDecimal(s.trim); Some(Left((x, x))) }
    catch { case _: NumberFormatException => None }

  private def micros(ldt: java.time.LocalDateTime): BigDecimal =
    BigDecimal(ldt.toEpochSecond(java.time.ZoneOffset.UTC)) * 1000000L +
      BigDecimal(ldt.getNano / 1000)

  /** Parse a zone stat / probe rendering for column type `dt`. */
  def parse(dt: DataType, s: String): Option[Parsed] = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | _: DecimalType => num(s)
    case DateType =>
      try { val d = BigDecimal(java.time.LocalDate.parse(s.trim).toEpochDay)
        Some(Left((d, d))) }
      catch { case _: java.time.format.DateTimeParseException => None }
    case TimestampType | TimestampNTZType =>
      val t = s.trim
      try {
        if (t.length == 10) { // date-only rendering covers the whole day
          val d0 = micros(java.time.LocalDate.parse(t).atStartOfDay())
          Some(Left((d0, d0 + (DayMicros - 1))))
        } else {
          val m = micros(java.time.LocalDateTime.parse(t.replace(' ', 'T')))
          Some(Left((m, m)))
        }
      } catch { case _: java.time.format.DateTimeParseException => None }
    case StringType => Some(Right(s))
    case _ => None
  }

  /** Render a pushed-filter comparison value, in a form [[parse]]
    * round-trips; None = unrenderable (caller fails open). */
  def renderValue(dt: DataType, v: Any): Option[String] = (dt, v) match {
    case (_, null) => None
    case (ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | _: DecimalType, _) => Some(v.toString)
    // java.sql.Date and LocalDate both render ISO
    case (DateType, _) => Some(v.toString)
    case (TimestampNTZType, ldt: java.time.LocalDateTime) => Some(ldt.toString)
    case (TimestampType, i: java.time.Instant) =>
      Some(java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC).toString)
    case (TimestampType, ts: java.sql.Timestamp) =>
      Some(java.time.LocalDateTime.ofInstant(ts.toInstant, java.time.ZoneOffset.UTC).toString)
    case (TimestampNTZType, ts: java.sql.Timestamp) =>
      Some(ts.toLocalDateTime.toString)
    case (StringType, _) => Some(v.toString)
    case _ => None
  }

  /** True iff every value under `a` is provably greater than every
    * value under `b`; false (fail open) for incomparable kinds. */
  def provablyAbove(a: Parsed, b: Parsed): Boolean = (a, b) match {
    case (Left((alo, _)), Left((_, bhi))) => alo > bhi
    case (Right(x), Right(y)) => utf8Cmp(x, y) > 0
    case _ => false
  }

  /** Pick the interval whose MIN is larger (for merging lower bounds);
    * unchanged when incomparable. */
  def maxByMin(a: Parsed, b: Parsed): Parsed = (a, b) match {
    case (Left((alo, _)), Left((blo, _))) => if (blo > alo) b else a
    case (Right(x), Right(y)) => if (utf8Cmp(y, x) > 0) b else a
    case _ => a
  }

  /** Pick the interval whose MAX is smaller (for merging upper bounds). */
  def minByMax(a: Parsed, b: Parsed): Parsed = (a, b) match {
    case (Left((_, ahi)), Left((_, bhi))) => if (bhi < ahi) b else a
    case (Right(x), Right(y)) => if (utf8Cmp(y, x) < 0) b else a
    case _ => a
  }
}

/** Per-file-group column stats harvested from parquet FOOTERS — the
  * stats the writer already produced, read back with zero Spark jobs
  * and zero data IO (r14 verdict "Next round" #4). One footer read per
  * file; a written group is a handful of files, so the cost class is
  * the manifest arithmetic of the commit it feeds.
  *
  * Fail-open discipline: a column with an unsupported type, a chunk
  * missing stats, a NaN bound, or a string bound that would corrupt the
  * `zone:` line format simply produces NO stat (the group is never
  * pruned on that column). Row counts come from block metadata and are
  * always exact.
  */
private[graft] object FooterStats {
  private val MaxStringStat = 256 // longer bounds: skip, not truncate

  /** (total rows, column -> (lo, hi) rendered for `zone:` lines) over
    * every `*.parquet` under `dir`. */
  def harvest(dir: String, schema: StructType, conf: Configuration)
      : (Long, Map[String, (String, String)]) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    var rows = 0L
    // per column: Some((lo, hi)) while complete, None once failed-open
    val acc = scala.collection.mutable.Map.empty[String, Option[(String, String)]]
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    for (st <- files) {
      val reader = graft.Tables.openFooter(st, conf)
      try {
        val footer = reader.getFooter
        for (block <- footer.getBlocks.asScala) {
          rows += block.getRowCount
          for (chunk <- block.getColumns.asScala) {
            val name = chunk.getPath.toDotString
            // nested columns surface as "a.b" — only top-level scalars map
            if (types.contains(name) && !acc.get(name).contains(None)) {
              val stats = chunk.getStatistics
              val dt = types(name)
              if (stats == null) acc(name) = None
              else if (!stats.hasNonNullValue) {
                // an all-null chunk constrains nothing (NULL never
                // matches a range predicate); anything else is unknown
                if (!(stats.isNumNullsSet && stats.getNumNulls == chunk.getValueCount))
                  acc(name) = None
              } else {
                (render(chunk.getPrimitiveType.getPrimitiveTypeName,
                    chunk.getPrimitiveType.getLogicalTypeAnnotation,
                    stats.genericGetMin.asInstanceOf[AnyRef], dt),
                  render(chunk.getPrimitiveType.getPrimitiveTypeName,
                    chunk.getPrimitiveType.getLogicalTypeAnnotation,
                    stats.genericGetMax.asInstanceOf[AnyRef], dt)) match {
                  case (Some(lo), Some(hi)) =>
                    acc(name) = acc.getOrElse(name, Some((lo, hi))).flatMap {
                      case (alo, ahi) =>
                        for (pl <- ZoneOrder.parse(dt, lo); pal <- ZoneOrder.parse(dt, alo);
                             ph <- ZoneOrder.parse(dt, hi); pah <- ZoneOrder.parse(dt, ahi))
                          yield (if (ZoneOrder.provablyAbove(pal, pl)) lo else alo,
                            if (ZoneOrder.provablyAbove(ph, pah)) hi else ahi)
                    }
                  case _ => acc(name) = None
                }
              }
            }
          }
        }
      } finally reader.close()
    }
    (rows, acc.toMap.collect { case (c, Some(b)) => c -> b })
  }

  /** Exact total row count over every `*.parquet` under `dirs`, from
    * block metadata alone — footer IO, zero Spark jobs. */
  def rowCount(dirs: Seq[String], conf: Configuration): Long = {
    var rows = 0L
    for (dir <- dirs) {
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      for (st <- fs.listStatus(p)
          if st.isFile && st.getPath.getName.endsWith(".parquet")) {
        val reader = graft.Tables.openFooter(st, conf)
        try rows += reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally reader.close()
      }
    }
    rows
  }

  /** Render one typed footer bound as a `zone:` stat string; None =
    * unsupported / unsafe (caller fails open for the column). */
  private def render(prim: PrimitiveTypeName, logical: LogicalTypeAnnotation,
      v: AnyRef, dt: DataType): Option[String] = {
    def safeString(s: String): Option[String] =
      if (s.length <= MaxStringStat && !s.exists(c => c == '|' || c == '\n' || c == '\r'))
        Some(s)
      else None
    (prim, dt) match {
      case (PrimitiveTypeName.INT32, DateType) =>
        Some(java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[java.lang.Integer].longValue()).toString)
      case (PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64,
            ByteType | ShortType | IntegerType | LongType) =>
        Some(v.toString)
      case (PrimitiveTypeName.FLOAT, FloatType) =>
        val f = v.asInstanceOf[java.lang.Float].floatValue()
        if (f.isNaN) None else Some(f.toString)
      case (PrimitiveTypeName.DOUBLE, DoubleType) =>
        val d = v.asInstanceOf[java.lang.Double].doubleValue()
        if (d.isNaN) None else Some(d.toString)
      case (PrimitiveTypeName.BINARY, StringType)
          if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        safeString(v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
      case (PrimitiveTypeName.INT64, TimestampType | TimestampNTZType)
          if logical.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =>
        val unit = logical
          .asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation].getUnit
        val n = v.asInstanceOf[java.lang.Long].longValue()
        val micros = unit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => n * 1000L
          case LogicalTypeAnnotation.TimeUnit.MICROS => n
          case LogicalTypeAnnotation.TimeUnit.NANOS => Math.floorDiv(n, 1000L)
        }
        // render at the UTC wall clock (the storage domain of both
        // adjusted and NTZ int64 timestamps) in a form ZoneOrder.parse
        // round-trips exactly
        Some(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC).toString)
      case _ => None // decimals/binary/int96: fail open for now
    }
  }
}
