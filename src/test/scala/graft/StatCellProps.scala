package graft

import java.time.LocalDate

import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Arbitrary, Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.engine.SparkEngine
import graft.operators.LakeStats

/** Property checks for the manifest's stats-cell codec (`LakeStats`)
  * over every type a stats column can have — integral, float and double
  * (NaN, ±Infinity, -0.0), decimal, string (supplementary-plane
  * characters), date (years 0001 and 9999), timestamp, timestamp_ntz and
  * boolean:
  *
  *   1. `decode(encode(v)) == v`;
  *   2. the sign of `compare` over two cells is the sign of Spark's
  *      interpreted ordering over their values, wherever the cells lie
  *      in the lexically ordered domain (dates and timestamps in years
  *      0000-9999) — the law manifest pruning rides on;
  *   3. `encode` renders the same cell under session zones UTC and
  *      America/Los_Angeles.
  *
  * Expression evaluation only; no Spark job runs.
  */
object StatCellProps extends Properties("graft.statCell") {

  // cheap cases (no job runs): enough of them that string pairs meet
  // on a supplementary-plane character often
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(1000)

  private lazy val spark =
    SparkEngine.session(master = "local[4]", appName = "graft-test", shufflePartitions = 4)

  private val (minDay, maxDay) =
    (LocalDate.of(1, 1, 1).toEpochDay, LocalDate.of(9999, 12, 31).toEpochDay)
  private val microsPerDay = 86400L * 1000000L
  private val genMicros: Gen[Any] = Gen.frequency(
    4 -> Gen.chooseNum(minDay * microsPerDay, (maxDay + 1) * microsPerDay - 1),
    // whole seconds and short fractions: renderings that are prefixes
    1 -> Gen.chooseNum(-1000000L, 1000000L).map(_ * 1000000L),
    1 -> Gen.chooseNum(-1000L, 1000L))

  private val genFloat: Gen[Any] = Gen.frequency(
    5 -> Gen.chooseNum(-1e6f, 1e6f),
    3 -> Arbitrary.arbitrary[Float],
    2 -> Gen.oneOf(0.0f, -0.0f, Float.MinPositiveValue, Float.MaxValue, -Float.MaxValue,
      Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity))

  private val genDouble: Gen[Any] = Gen.frequency(
    5 -> Gen.chooseNum(-1e6d, 1e6d),
    3 -> Arbitrary.arbitrary[Double],
    2 -> Gen.oneOf(0.0d, -0.0d, Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))

  // ASCII, the BMP above the surrogates (where UTF-16 order and code
  // point order disagree) and supplementary-plane characters
  private val genCodePoint: Gen[Int] = Gen.frequency(
    4 -> Gen.choose(0x20, 0x7e),
    1 -> Gen.choose(0x80, 0xd7ff),
    2 -> Gen.choose(0xe000, 0xffff),
    2 -> Gen.choose(0x10000, 0x10ffff))
  private val genString: Gen[Any] = Gen.listOf(genCodePoint)
    .map(cps => UTF8String.fromString(new String(cps.toArray, 0, cps.size)))

  private def genDecimal(p: Int, s: Int, maxShift: Int): Gen[Any] = for {
    u <- Arbitrary.arbitrary[Long]
    k <- Gen.choose(0, maxShift)
  } yield Decimal(BigDecimal(BigInt(u) * BigInt(10).pow(k), s), p, s)

  private val typed: Seq[(DataType, Gen[Any])] = Seq(
    ByteType -> Arbitrary.arbitrary[Byte].map(x => x: Any),
    ShortType -> Arbitrary.arbitrary[Short].map(x => x: Any),
    IntegerType -> Arbitrary.arbitrary[Int].map(x => x: Any),
    LongType -> Arbitrary.arbitrary[Long].map(x => x: Any),
    FloatType -> genFloat,
    DoubleType -> genDouble,
    DecimalType(20, 4) -> genDecimal(20, 4, 0),
    DecimalType(38, 18) -> genDecimal(38, 18, 19),
    StringType -> genString,
    DateType -> Gen.oneOf(
      Gen.chooseNum(minDay, maxDay), Gen.oneOf(minDay, maxDay, 0L)).map(_.toInt),
    TimestampType -> genMicros,
    TimestampNTZType -> genMicros,
    BooleanType -> Arbitrary.arbitrary[Boolean].map(x => x: Any))

  private val genValue: Gen[(DataType, Any)] =
    Gen.oneOf(typed).flatMap { case (dt, g) => g.map(v => (dt, v)) }

  private val genPair: Gen[(DataType, Any, Any)] = for {
    (dt, g) <- Gen.oneOf(typed)
    a <- g
    b <- Gen.frequency(3 -> g, 1 -> Gen.const(a))
  } yield (dt, a, b)

  /** Internal values equal as stored: floats bit for bit (-0.0 is not
    * 0.0; NaN is NaN), the rest by value.
    */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Float, y: Float) =>
      java.lang.Float.floatToIntBits(x) == java.lang.Float.floatToIntBits(y)
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case _ => a == b
  }

  /** A cell in the lexically ordered domain of its type. */
  private def ordered(dt: DataType, s: String): Boolean = dt match {
    case DateType | TimestampType | TimestampNTZType => s.matches("\\d{4}-.*")
    case _ => true
  }

  property("decode(encode(v)) == v") = forAll(genValue) { case (dt, v) =>
    val cell = LakeStats.encode(dt, v)
    val back = LakeStats.decode(dt, cell)
    back.exists(same(_, v)) :| s"${dt.simpleString}: $v -> '$cell' -> $back"
  }

  property("compare orders cells as Spark orders their values") = forAll(genPair) {
    case (dt, a, b) =>
      val (ca, cb) = (LakeStats.encode(dt, a), LakeStats.encode(dt, b))
      val want = Integer.signum(TypeUtils.getInterpretedOrdering(dt).compare(a, b))
      val got = Integer.signum(LakeStats.compare(dt, ca, cb))
      (!(ordered(dt, ca) && ordered(dt, cb)) || got == want) :|
        s"${dt.simpleString}: compare('$ca', '$cb') = $got, Spark orders $a vs $b as $want"
  }

  property("encode is the same under UTC and America/Los_Angeles") = forAll(genValue) {
    case (dt, v) =>
      val s = spark
      def under(zone: String): String = {
        s.conf.set("spark.sql.session.timeZone", zone)
        try LakeStats.encode(dt, v) finally s.conf.set("spark.sql.session.timeZone", "UTC")
      }
      val (utc, la) = (under("UTC"), under("America/Los_Angeles"))
      (utc == la) :| s"${dt.simpleString}: $v renders '$utc' under UTC, '$la' under LA"
  }
}
