package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, col, concat, date_format, floor, lit, lpad, pmod, substring, to_date, year}
import org.apache.spark.sql.types._

/** Hidden (transform) partitioning — the table-format idea (Iceberg
  * partition transforms, ref `serve/api.py:33-41`'s date-sliced
  * queries are the consumer shape): the LAYOUT clusters on a value
  * DERIVED from a source column (`months(o_orderdate)`,
  * `days(event_ts)`, `truncate(4, part_name)`), but the derived
  * column never exists in the data schema — users keep filtering on
  * the source column and pruning still works, because a file whose
  * rows share one derived value has a tight min/max footer range on
  * the SOURCE column, which the existing per-file stats machinery
  * prunes with zero predicate translation. The derived value exists
  * only in the `k=v/` dir names and per-file min=max manifest stats.
  *
  * Specs are ENCODED AS STRINGS inside the manifest's existing
  * `partcols=` line (and `commit(partitionBy)` argument): a bare
  * column name is identity partitioning (unchanged), `months(c)` /
  * `years(c)` / `days(c)` / `truncate(n, c)` are transforms. This
  * keeps the spec-evolution, carry, clone and compaction paths
  * untouched — they move opaque strings; only the write path (derive
  * the shadow column) and the validators (resolve the SOURCE column)
  * parse them.
  *
  * Year/month/day derivations use session-timezone calendar semantics
  * for timestamp sources (`to_date`/`year`/`date_format`) — the same
  * instant always lands in the same partition for a fixed session
  * timezone, which is the deployment contract (document one tz per
  * table's writers). `hours(ts)` is stricter: derived from EPOCH
  * arithmetic and rendered as the UTC wall clock, so it is stable
  * across writer session timezones with no contract to document —
  * hour layouts are the multi-writer ingest grain, where "all writers
  * share one session tz" is the assumption most likely to break.
  * Values are formatted so that LEXICAL dir order == chronological
  * order (`yyyy-MM`), keeping dir listings sane at 100 TB; stats ride
  * the typed FileStat kinds, not dir-name order.
  */
object PartitionTransforms {

  sealed trait Spec {
    def source: String
    /** Name of the derived layout column: the `k` of the `k=v/` dirs
      * and the per-file stat key. Identity derives nothing — the
      * column itself is the layout column.
      */
    def derivedName: String
    def encoded: String
    def isIdentity: Boolean = this.isInstanceOf[Identity]
  }
  final case class Identity(source: String) extends Spec {
    def derivedName: String = source
    def encoded: String = source
  }
  /** unit ∈ year | month | day (DATE or TIMESTAMP source) | hour
    * (TIMESTAMP source only — a date has no hour to derive). Hour is
    * the reference's consumer grain (`fct_requests_hourly.sql:1-12`,
    * hour-of-day `README.md:133`) and the most common event-lake
    * layout: a day of 100 TB ingest lands as 24 addressable dirs.
    */
  final case class DateUnit(unit: String, source: String) extends Spec {
    def derivedName: String = s"${source}_$unit"
    def encoded: String = s"${unit}s($source)"
  }
  /** Integral source → floor to a multiple of `width` (negatives
    * floor toward -inf, so every bucket is a half-open [k*w, (k+1)*w)
    * range); string source → `width`-char prefix.
    */
  final case class Truncate(width: Int, source: String) extends Spec {
    def derivedName: String = s"${source}_trunc"
    def encoded: String = s"truncate($width, $source)"
  }

  private val DateUnitRe = """^(years|months|days|hours)\(\s*([^(),\s]+)\s*\)$""".r
  private val TruncRe = """^truncate\(\s*(\d+)\s*,\s*([^(),\s]+)\s*\)$""".r

  def parse(s: String): Spec = s.trim match {
    case DateUnitRe(unit, c) => DateUnit(unit.stripSuffix("s"), c)
    case TruncRe(w, c) =>
      // toIntOption: a width past Int.MaxValue is a spec-validation
      // error, not a bare NumberFormatException with no spec context
      val width = w.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"truncate width out of range in partition spec '$s'"))
      require(width >= 1, s"truncate width must be >= 1: $s")
      Truncate(width, c)
    case plain =>
      require(plain.nonEmpty && !plain.contains("("),
        s"bad partition spec '$s' (expected a column name, years/months/days/hours(col) or truncate(n, col))")
      Identity(plain)
  }

  /** The derived layout value as a Column over the source, or the
    * source itself for identity. `srcType` is the TABLE's recorded
    * type for the source column.
    */
  def derive(spec: Spec, srcType: DataType): Column = spec match {
    case Identity(c) => col(c)
    case DateUnit("hour", c) =>
      // timestamp-only (validated); lexical dir order == chronological.
      // TZ-STABLE, unlike date_format: a timestamp cast to long is
      // epoch SECONDS (floorDiv — timezone-free), the epoch hour and
      // epoch day are integer arithmetic, and a DATE renders zone-free
      // — so the dir name is the instant's UTC wall clock whatever the
      // writer's spark.sql.session.timeZone. date_format would have
      // rendered the SESSION zone's wall clock, landing the same
      // instant in different hour dirs across writer sessions (and
      // un-pinning the ts_hour min=max dir stats). Identical output to
      // the old derivation for UTC sessions, the GraftSession default.
      // Migration note: a table whose hour dirs were written by a
      // PRE-change NON-UTC session relabels new appends to UTC wall
      // clock — dir labels mix across the boundary. That is cosmetic
      // by design: the derived column never enters the schema, and
      // pruning is driven by the SOURCE column's exact footer stats,
      // so reads stay correct either way.
      val secs = col(c).cast(LongType)
      val ehour = call_function("div", secs - pmod(secs, lit(3600L)),
        lit(3600L))
      val eday = call_function("div", ehour - pmod(ehour, lit(24L)),
        lit(24L))
      concat(
        call_function("date_from_unix_date", eday.cast(IntegerType))
          .cast(StringType),
        lit("-"), lpad(pmod(ehour, lit(24L)).cast(StringType), 2, "0"))
    case DateUnit(u, c) =>
      val d = srcType match {
        case TimestampType => to_date(col(c))
        case _ => col(c)
      }
      u match {
        case "year"  => year(d)
        case "month" => date_format(d, "yyyy-MM")
        case "day"   => d
      }
    case Truncate(w, c) => srcType match {
      case StringType => substring(col(c), 1, w)
      case _ =>
        // floor-to-multiple at long precision; pmod is non-negative so
        // v - pmod(v, w) == floor(v/w)*w for negatives too
        (col(c).cast(LongType) - pmod(col(c).cast(LongType), lit(w.toLong)))
    }
  }

  /** Data type of the derived layout column (drives the dir-value →
    * FileStat conversion and the shadow column's type).
    */
  def derivedType(spec: Spec, srcType: DataType): DataType = spec match {
    case Identity(_) => srcType
    case DateUnit("year", _)  => IntegerType
    case DateUnit("month", _) => StringType
    case DateUnit("hour", _)  => StringType
    case DateUnit(_, _)       => DateType
    case Truncate(_, _) => srcType match {
      case StringType => StringType
      case _ => LongType
    }
  }

  /** Validate one spec against the batch/table schema. Identity keeps
    * the historical constraint set; transforms constrain the SOURCE.
    */
  def validate(spec: Spec, schema: StructType, what: String): Unit = {
    require(schema.fieldNames.contains(spec.source),
      s"$what '${spec.source}' is not a column")
    val t = schema(spec.source).dataType
    spec match {
      case Identity(c) =>
        require(t == ByteType || t == ShortType || t == IntegerType ||
            t == LongType || t == StringType || t == DateType,
          s"$what '$c' must be integral, string or date, not $t")
      case DateUnit("hour", c) =>
        require(t == TimestampType,
          s"partition transform hours($c) needs a timestamp source, not $t")
      case DateUnit(u, c) =>
        require(t == DateType || t == TimestampType,
          s"partition transform ${u}s($c) needs a date or timestamp source, not $t")
      case Truncate(_, c) =>
        require(t == ByteType || t == ShortType || t == IntegerType ||
            t == LongType || t == StringType,
          s"partition transform truncate(n, $c) needs an integral or string source, not $t")
    }
    spec match {
      case Identity(_) => ()
      case _ => require(!schema.fieldNames.contains(spec.derivedName),
        s"derived partition name '${spec.derivedName}' collides with a data column")
    }
  }

  /** The exact min=max FileStat a `derivedName=v` dir segment pins,
    * typed per the derived type ([[Snapshots.partitionStatsOf]]'s
    * contract: dates as epoch days, integrals as longs). None = a
    * value the manifest line format cannot carry — unprunable, never
    * wrong.
    */
  def dirValueStat(spec: Spec, srcType: DataType, v: String)
      : Option[(String, String)] = derivedType(spec, srcType) match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(("long", v.toLong.toString))
    case DateType =>
      Some(("long", java.time.LocalDate.parse(v).toEpochDay.toString))
    case StringType if Snapshots.fitsMetadataLine(v) =>
      Some(("string", v))
    case _ => None
  }

  /** Rewrite a spec for a source-column rename (ALTER TABLE RENAME
    * COLUMN carries the layout to the new name — O(1), like stats).
    */
  def renameSource(encoded: String, from: String, to: String): String = {
    val spec = parse(encoded)
    if (spec.source != from) encoded
    else spec match {
      case Identity(_) => to
      case DateUnit(u, _) => DateUnit(u, to).encoded
      case Truncate(w, _) => Truncate(w, to).encoded
    }
  }

  def sourceOf(encoded: String): String = parse(encoded).source
}
