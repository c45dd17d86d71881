package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import org.apache.spark.sql.types._
import graft.operators.{LakeStats, LakeTable}

/** Property checks for the TYPE WIDENING primitives — no Spark session,
  * pure value-level laws the engine's pruning correctness rides on:
  *
  *   1. rewidenStat is EXACT: a float's stat rendering re-parsed as a
  *      float and widened equals the rewritten string parsed as a
  *      double, bit for bit (incl. NaN/Infinity/subnormals/-0.0);
  *   2. cmpStat over rewritten stats is ORDER-EXACT against any double
  *      bound: for random floats f and doubles b,
  *      cmpStat(Double, rewiden(render(f)), render(b)) has the sign of
  *      the true comparison f.toDouble <=> b — the law that makes
  *      post-widening range pruning safe (the UNrewritten rendering
  *      violates it: bounds inside the float's rounding interval
  *      mis-order);
  *   3. widens() is a strict partial order: irreflexive, acyclic on the
  *      numeric lattice, and closed under the reader's up-conversion
  *      set (nothing widens INTO a narrower or unrelated type).
  */
object WideningProps extends Properties("graft.widening") {

  // the float → string rendering the write path produces (Spark's
  // cast-to-string of FloatType = shortest round-trip, Float.toString)
  private def renderF(f: Float): String =
    if (f.isNaN) "NaN" else f.toString
  private def renderD(d: Double): String =
    if (d.isNaN) "NaN" else d.toString

  private val genFloat: Gen[Float] = Gen.frequency(
    6 -> Gen.chooseNum(-1e9f, 1e9f),
    2 -> Gen.chooseNum(-1f, 1f).map(x => x * 1e-38f), // subnormal-ish
    1 -> Gen.oneOf(0.0f, -0.0f, Float.MinPositiveValue, Float.MaxValue,
      Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity))

  private val genDouble: Gen[Double] = Gen.frequency(
    6 -> Gen.chooseNum(-1e9d, 1e9d),
    // bounds NEAR a float's value exercise the rounding-interval zone
    2 -> genFloat.map(f => f.toDouble + 1e-9),
    2 -> genFloat.map(f => f.toDouble - 1e-9),
    1 -> Gen.oneOf(0.0d, -0.0d, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity))

  property("rewidenStat is the exact float->double widening") =
    forAll(genFloat) { f =>
      val rewritten = LakeStats.rewiden(renderF(f), FloatType, DoubleType)
      val parsed = java.lang.Double.parseDouble(rewritten)
      java.lang.Double.compare(parsed, f.toDouble) == 0 ||
        (parsed.isNaN && f.isNaN)
    }

  property("cmpStat over rewritten stats orders exactly like the true widened value") =
    forAll(genFloat, genDouble) { (f, b) =>
      (!f.isNaN && !b.isNaN) ==> {
        val stat = LakeStats.rewiden(renderF(f), FloatType, DoubleType)
        val got = LakeStats.compare(DoubleType, stat, renderD(b))
        val want = java.lang.Double.compare(f.toDouble, b)
        math.signum(got) == math.signum(want) ||
          // -0.0 vs 0.0: cmpStat's decimal compare says equal — the
          // CONSERVATIVE direction for pruning (file kept)
          (f.toDouble == b && got == 0)
      }
    }

  private val numeric: Seq[DataType] = Seq(ByteType, ShortType, IntegerType,
    LongType, FloatType, DoubleType, DecimalType(6, 2), DecimalType(12, 2),
    DecimalType(12, 4), StringType, BooleanType)

  property("widens() is irreflexive and acyclic") = {
    val irreflexive = numeric.forall(t => !LakeTable.widens(t, t))
    val acyclic = numeric.forall(a => numeric.forall(b =>
      !(LakeTable.widens(a, b) && LakeTable.widens(b, a))))
    irreflexive && acyclic
  }

  property("widens() admits only the reader's up-conversion set") = {
    def ok(a: DataType, b: DataType): Boolean = (a, b) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (x: DecimalType, y: DecimalType) =>
        y.scale == x.scale && y.precision > x.precision
      case _ => false
    }
    numeric.forall(a => numeric.forall(b => LakeTable.widens(a, b) == ok(a, b)))
  }
}
