package graft.sources.lake

import scala.util.Random

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.operators.{LakeStats, LakeTable}
import graft.operators.LakeTable.{Entry, TableMeta}

/** Soundness property for the connector's manifest pruning: over random
  * file layouts and random pushed-down predicates, a file containing ANY
  * row the predicate matches is NEVER skipped. (Completeness — skipping
  * as much as possible — is pinned by GraftLakeSpec's scan-metric cases;
  * soundness is the side that silently corrupts results if it breaks,
  * so it gets the randomized law.) Pure metadata: rows are synthesized
  * first and each file's manifest stats are DERIVED from its rows
  * exactly as the writer derives them, so every generated layout is one
  * the write path could produce — including all-NULL stats columns, the
  * null-partition sentinel, dates outside the lexically ordered years
  * 0000-9999, and (in every fourth trial) per-file Bloom sidecars on
  * `k`, built from the same hash the writer inserts.
  */
class LakeIndexProps extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("p", IntegerType), StructField("k", LongType),
    StructField("s", StringType), StructField("w", LongType), StructField("d", DateType)))
  private val meta = TableMeta(schema, "p", Seq("k", "s", "d"))

  private case class TRow(
      p: Option[Int], k: Option[Long], s: Option[String], w: Long, d: Option[Int])

  // epoch days: a dense window of early 2020 plus edge years, where the
  // cast-to-string rendering leaves the "yyyy-" form ("+10000-01-01")
  private val edgeDays = Vector(
    java.time.LocalDate.of(-1, 6, 1), java.time.LocalDate.of(1, 1, 1),
    java.time.LocalDate.of(9999, 12, 31), java.time.LocalDate.of(10000, 1, 1),
    java.time.LocalDate.of(12345, 6, 7)).map(_.toEpochDay.toInt)
  private val day0 = java.time.LocalDate.of(2020, 1, 1).toEpochDay.toInt
  private def genDay(rnd: Random): Int =
    if (rnd.nextInt(15) == 0) edgeDays(rnd.nextInt(edgeDays.size)) else day0 + rnd.nextInt(60)

  test("pruning soundness: a file containing any matching row is never skipped") {
    val rnd = new Random(20260814L)
    val pool = Vector("ant", "bee", "cat", "dog", "elk", "fox")
    val trials = (1 to 300).map { trial =>
      val nFiles = 3 + rnd.nextInt(8)
      val files = (0 until nFiles).map { i =>
        val pv = if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(5))
        val rows = Seq.fill(1 + rnd.nextInt(12))(TRow(
          pv,
          if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(1000).toLong),
          if (rnd.nextInt(8) == 0) None else Some(pool(rnd.nextInt(pool.size))),
          rnd.nextLong(),
          if (rnd.nextInt(8) == 0) None else Some(genDay(rnd))))
        (mkEntry(trial, i, pv, rows), rows)
      }
      (trial, files, Seq.fill(1 + rnd.nextInt(3))(genPred(rnd, pool)))
    }
    // one sidecar dataset holds the k-blooms of every bloom trial's files
    val bloomRoot = java.nio.file.Files.createTempDirectory("graft-prop-bloom").toString
    val bloomed = trials.filter(_._1 % 4 == 0)
    writeBlooms(bloomRoot, bloomed.flatMap(_._2))
    var prunedSomething = 0
    var bloomPruned = 0
    trials.foreach { case (trial, files, conjuncts) =>
      val bloomy = trial % 4 == 0
      def keptBy(root: String, m: TableMeta) =
        new LakeFileIndex(spark, root, m, files.map(_._1)).pruneEntries(conjuncts.map(_._1))
      val statsKept = keptBy("/graft-prop-nonexistent", meta)
      val kept =
        (if (bloomy) keptBy(bloomRoot, meta.copy(bloomCols = Seq("k"))) else statsKept)
          .map(_.rel).toSet
      if (kept.size < statsKept.size) bloomPruned += 1
      if (kept.size < files.size) prunedSomething += 1
      files.foreach { case (e, rows) =>
        val hasMatch = rows.exists(r => conjuncts.forall(_._2(r)))
        if (hasMatch) assert(kept.contains(e.rel),
          s"trial $trial: pruned a file containing a matching row " +
            s"(predicate: ${conjuncts.map(_._3).mkString(" AND ")})")
      }
    }
    assert(prunedSomething > 30, s"pruning engaged in only $prunedSomething trials — vacuous run")
    assert(bloomPruned > 3, s"blooms pruned beyond stats in only $bloomPruned trials — vacuous run")
  }

  test("canonical numeric equality law: canonNum equal iff cmpStat orders equal") {
    // the O(1) partition-IN membership replaces per-pair cmpStat calls
    // with canonical-form hashing — sound only if canonical equality and
    // cmpStat-equality coincide on every rendering pair the cast-to-string
    // space can produce (incl. -0.0, exponent forms, non-finites)
    val rnd = new Random(42L)
    val specials = Vector("-0.0", "0.0", "0", "0.00", "NaN", "Infinity", "-Infinity",
      "1e3", "1000", "1000.0", "007", "7", "9223372036854775808", "9223372036854775808.0")
    def rendering(): String = rnd.nextInt(4) match {
      case 0 => specials(rnd.nextInt(specials.size))
      case 1 => rnd.nextLong().toString
      case 2 => ((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(7))).toString
      case _ => s"${rnd.nextInt(100)}.${rnd.nextInt(1000)}"
    }
    (1 to 5000).foreach { _ =>
      val (a, b) = (rendering(), rendering())
      val canonEq = LakeStats.canonNum(a) == LakeStats.canonNum(b)
      val statEq = LakeStats.compare(DoubleType, a, b) == 0
      assert(canonEq === statEq,
        s"law broken for a=$a b=$b: canon(${LakeStats.canonNum(a)}, " +
          s"${LakeStats.canonNum(b)}) vs cmpStat=${LakeStats.compare(DoubleType, a, b)}")
    }
  }

  /** Manifest entry with stats derived from the rows, writer-style:
    * native-typed min/max rendered to string, (None, None) when the
    * column is all-NULL in the file.
    */
  private def mkEntry(trial: Int, i: Int, pv: Option[Int], rows: Seq[TRow]): Entry = {
    def mm[T: Ordering](vs: Seq[T], render: T => String = (v: T) => v.toString)
        : (Option[String], Option[String]) =
      if (vs.isEmpty) (None, None)
      else (Some(render(vs.min)), Some(render(vs.max)))
    val day = (v: Int) =>
      Cast(Literal(v, DateType), StringType, Some("UTC")).eval().toString
    Entry(
      pv.map(_.toString).getOrElse(LakeTable.NullPartition),
      s"data/batch-prop/t$trial-f$i.parquet",
      Seq(mm(rows.flatMap(_.k)), mm(rows.flatMap(_.s)), mm(rows.flatMap(_.d), day)))
  }

  /** Writer-style Bloom sidecar rows (rel, col, bits) over each file's
    * non-null `k` values, hashed as the write path's xxhash64 inserts
    * them, landed as one sidecar batch under `root`.
    */
  private def writeBlooms(root: String, files: Seq[(Entry, Seq[TRow])]): Unit = {
    import spark.implicits._
    files.map { case (e, rows) =>
      val bf = org.apache.spark.util.sketch.BloomFilter.create(64, 0.01)
      rows.flatMap(_.k).foreach(k => bf.putLong(LakeStats.bloomHash(LongType, k)))
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      (e.rel, "k", out.toByteArray)
    }.toDF("rel", "col", "bits").write.parquet(s"$root/index/batch-prop")
  }

  /** (pushed-down expression, row-level SQL semantics, description). */
  private def genPred(rnd: Random, pool: Vector[String]): (Expression, TRow => Boolean, String) = {
    val attrP = AttributeReference("p", IntegerType)()
    val attrK = AttributeReference("k", LongType)()
    val attrS = AttributeReference("s", StringType)()
    val attrW = AttributeReference("w", LongType)()
    def litI(v: Int) = Literal.create(v, IntegerType)
    def litL(v: Long) = Literal.create(v, LongType)
    def litS(v: String) = Literal.create(v, StringType)
    val attrD = AttributeReference("d", DateType)()
    def litD(v: Int) = Literal(v, DateType)
    rnd.nextInt(13) match {
      case 0 =>
        val v = rnd.nextInt(6)
        (EqualTo(attrP, litI(v)), r => r.p.contains(v), s"p = $v")
      case 1 =>
        val v = rnd.nextInt(1200).toLong
        rnd.nextInt(4) match {
          case 0 => (LessThan(attrK, litL(v)), r => r.k.exists(_ < v), s"k < $v")
          case 1 => (LessThanOrEqual(attrK, litL(v)), r => r.k.exists(_ <= v), s"k <= $v")
          case 2 => (GreaterThan(attrK, litL(v)), r => r.k.exists(_ > v), s"k > $v")
          case _ => (GreaterThanOrEqual(attrK, litL(v)), r => r.k.exists(_ >= v), s"k >= $v")
        }
      case 2 =>
        val v = rnd.nextInt(1200).toLong
        (EqualTo(attrK, litL(v)), r => r.k.contains(v), s"k = $v")
      case 3 =>
        // flipped side: lit OP attr (the parser emits both orders)
        val v = rnd.nextInt(1200).toLong
        (GreaterThan(litL(v), attrK), r => r.k.exists(v > _), s"$v > k")
      case 4 =>
        val v = pool(rnd.nextInt(pool.size))
        (EqualTo(attrS, litS(v)), r => r.s.contains(v), s"s = $v")
      case 5 =>
        val v = pool(rnd.nextInt(pool.size))
        if (rnd.nextBoolean())
          (LessThanOrEqual(attrS, litS(v)), r => r.s.exists(_ <= v), s"s <= $v")
        else
          (GreaterThan(attrS, litS(v)), r => r.s.exists(_ > v), s"s > $v")
      case 6 =>
        val vs = Seq.fill(1 + rnd.nextInt(20))(rnd.nextInt(6))
        (In(attrP, vs.map(litI)), r => r.p.exists(vs.contains), s"p IN $vs")
      case 7 =>
        val vs = Seq.fill(1 + rnd.nextInt(20))(rnd.nextInt(1200).toLong)
        (In(attrK, vs.map(litL)), r => r.k.exists(vs.contains), s"k IN $vs")
      case 8 => (IsNull(attrP), r => r.p.isEmpty, "p IS NULL")
      case 9 => (IsNotNull(attrP), r => r.p.isDefined, "p IS NOT NULL")
      case 10 =>
        val v = genDay(rnd)
        rnd.nextInt(5) match {
          case 0 => (EqualTo(attrD, litD(v)), r => r.d.contains(v), s"d = $v")
          case 1 => (LessThan(attrD, litD(v)), r => r.d.exists(_ < v), s"d < $v")
          case 2 => (GreaterThanOrEqual(attrD, litD(v)), r => r.d.exists(_ >= v), s"d >= $v")
          case 3 => (LessThanOrEqual(litD(v), attrD), r => r.d.exists(v <= _), s"$v <= d")
          case _ => (GreaterThan(attrD, litD(v)), r => r.d.exists(_ > v), s"d > $v")
        }
      case 11 =>
        val vs = Seq.fill(1 + rnd.nextInt(20))(genDay(rnd))
        (In(attrD, vs.map(litD)), r => r.d.exists(vs.contains), s"d IN $vs")

      case _ =>
        // no-stats column: pruning must never engage, so any match law
        // holds trivially — this keeps the generator honest about
        // columns the index knows nothing about
        val v = rnd.nextLong()
        (EqualTo(attrW, litL(v)), r => r.w == v, s"w = $v")
    }
  }
}
