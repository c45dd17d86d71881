package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, ShortType, StringType, TimestampType}

/** HIDDEN PARTITIONING transforms (the Iceberg partition-transform
  * shape): the partition VALUE is a function of a source column —
  * `days(ts)`, `months(ts)`, `hours(ts)`, `bucket:N` (Murmur3 mod N),
  * `truncate:N` (string prefix / integer floor-to-width) — so users
  * query the SOURCE column (`WHERE ts BETWEEN ...`) and the engine maps
  * predicate bounds into partition space for manifest pruning. Nobody
  * maintains a derived partition column, and a mis-partitioned query
  * (the classic "forgot the date_trunc filter" full scan) cannot
  * happen: pruning keys off the data column itself.
  *
  * Three faces MUST agree bit-for-bit on the derived value:
  * [[column]] (the write path's Catalyst expression), [[apply]] (the
  * planner/pruner evaluating a literal, and the streaming writer
  * deriving a row's directory), and the manifest's recorded partition
  * strings. Both faces render through [[LakeStats]] in its zone (UTC,
  * whatever the session's): identity is the codec's cell, and temporal
  * transforms are one fixed-width `date_format` expression, so partition-
  * space STRING order equals time order and a time-range predicate maps
  * to one contiguous partition-string range. NULL source → NULL value
  * (the writer's null-partition sentinel takes over), including for
  * bucket — Spark's `hash(NULL)` would return the seed, which would
  * silently file null rows into a real bucket.
  */
private[graft] object PartitionFn {

  val Identity = "identity"

  def parse(fn: String): (String, Int) = fn.split(":", 2) match {
    case Array(n) => (n, 0)
    case Array(n, w) => (n, w.toInt)
  }

  def validate(fn: String, dt: DataType): Unit = parse(fn) match {
    case (Identity, _) => ()
    case ("days" | "months" | "hours", _) =>
      require(dt == DateType || dt == TimestampType,
        s"graft-lake: $fn() needs a DATE or TIMESTAMP column, got ${dt.simpleString}")
    case ("bucket", n) =>
      require(n > 0, s"graft-lake: bucket needs a positive width, got $n")
    case ("truncate", n) =>
      require(n > 0, s"graft-lake: truncate needs a positive width, got $n")
      require(dt == StringType || dt == IntegerType || dt == LongType || dt == ShortType,
        s"graft-lake: truncate() needs a STRING or integral column, got ${dt.simpleString}")
    case (other, _) =>
      throw new IllegalArgumentException(s"graft-lake: unknown partition transform $other")
  }

  /** The write-path expression: fn(col) rendered as the partition STRING
    * (NULL iff the source is NULL).
    */
  def column(fn: String, c: Column, dt: DataType): Column = parse(fn) match {
    case (Identity, _) => LakeStats.encodeColumn(c)
    case ("days", _) => LakeStats.formatColumn(c, dt, "yyyy-MM-dd")
    case ("months", _) => LakeStats.formatColumn(c, dt, "yyyy-MM")
    case ("hours", _) => LakeStats.formatColumn(c, dt, "yyyy-MM-dd-HH")
    case ("bucket", n) =>
      when(c.isNotNull, LakeStats.encodeColumn(pmod(hash(c), lit(n))))
    case ("truncate", n) =>
      if (dt == StringType) substring(c, 1, n)
      else LakeStats.encodeColumn(c - pmod(c, lit(n)))
  }

  /** The planner/row face: fn over a catalyst-internal value (DateType
    * days-since-epoch Int, TimestampType epoch micros Long, StringType
    * UTF8String). Must equal what [[column]] writes. null → null.
    */
  def apply(fn: String, dt: DataType, v: Any): String =
    if (v == null) null else renderer(fn, dt)(v)

  /** [[apply]] bound once for many non-null values (a writer's rows). */
  def renderer(fn: String, dt: DataType): Any => String = parse(fn) match {
    case (Identity, _) => LakeStats.encoder(dt)
    case ("days", _) => LakeStats.formatter(dt, "yyyy-MM-dd")
    case ("months", _) => LakeStats.formatter(dt, "yyyy-MM")
    case ("hours", _) => LakeStats.formatter(dt, "yyyy-MM-dd-HH")
    case ("bucket", n) => v =>
      val h = new Murmur3Hash(Seq(Literal.create(v, dt))).eval(null).asInstanceOf[Int]
      (((h % n) + n) % n).toString
    case ("truncate", n) =>
      dt match {
        case StringType => v =>
          // Spark's substring() counts CODE POINTS, not UTF-16 units —
          // supplementary-plane chars (surrogate pairs) must not be
          // split or double-counted, or this face disagrees with the
          // write path's substring(c, 1, n) and pruning goes unsound
          val s = v.toString
          if (s.codePointCount(0, s.length) <= n) s
          else s.substring(0, s.offsetByCodePoints(0, n))
        case _ => v =>
          val l = v.asInstanceOf[Number].longValue()
          (l - (((l % n) + n) % n)).toString
      }
  }

  /** Is partition-space string order consistent with source order (so a
    * source range [lo,hi] maps to the partition range [fn(lo), fn(hi)])?
    * Temporal formats are fixed-width; string truncate is a prefix;
    * integral truncate floors — all monotonic. Bucket is not.
    */
  def monotonic(fn: String): Boolean = parse(fn)._1 match {
    case "days" | "months" | "hours" | "truncate" => true
    case _ => false
  }
}
