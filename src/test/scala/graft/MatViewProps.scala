package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.engine.SparkEngine
import graft.operators.{LakeTable, MatView}

/** Property check for materialized-view refresh: random waves of
  * INSERT, UPDATE, DELETE and MERGE over a fact table and a dim table
  * (each COW or MOR), then one refresh per wave — the view must equal a
  * full recompute of its own stored definition (SHOW CREATE's SELECT)
  * after every wave. Cases cover single-table and join views, the
  * delta-only (`cnt`/`sum`/`avg`) and dirty-group (`min`/`max`/`cntd`)
  * paths, fact and dim WHERE filters, derived keys (including an
  * all-derived key set) and NULL group keys. Case count is kept small:
  * every case is two fresh lake tables, a view and a few statements.
  */
object MatViewProps extends Properties("graft.matView") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(16)

  private lazy val spark =
    SparkEngine.session(master = "local[4]", appName = "graft-test", shufflePartitions = 4)

  /** One statement: on the dim table (join views only) or the fact
    * table; `a` picks the rows it touches.
    */
  private case class Op(onDim: Boolean, verb: String, a: Int)

  /** The random half of a case; [[view]] adds the view's shape. */
  private case class Case(
      factMode: String,
      dimMode: String,
      derived: Boolean,
      aggCol: String,
      where: Option[String],
      dimWhere: Option[String],
      waves: Seq[Seq[Op]])

  private val genOp: Gen[Op] = for {
    onDim <- Gen.oneOf(false, true)
    verb <- Gen.oneOf("insert", "update", "delete", "merge")
    a <- Gen.choose(0, 5)
  } yield Op(onDim, verb, a)

  private val genCase: Gen[Case] = for {
    factMode <- Gen.oneOf("cow", "mor")
    dimMode <- Gen.oneOf("cow", "mor")
    derived <- Gen.oneOf(false, true)
    aggCol <- Gen.oneOf("v", "w")
    where <- Gen.option(Gen.const("v IS NULL OR v % 3 <> 0"))
    dimWhere <- Gen.option(Gen.const("w > 1"))
    // one or two waves of one or two statements each
    wave = Gen.choose(1, 2).flatMap(Gen.listOfN(_, genOp))
    waves <- Gen.choose(1, 2).flatMap(Gen.listOfN(_, wave))
  } yield Case(factMode, dimMode, derived, aggCol, where, dimWhere, waves)

  /** The view's shape comes from the case number, so every 16 cases
    * visit each of the 16 shapes once: single or join, delta-only or
    * dirty aggregates, and four key sets — a fact-side key (with NULL
    * groups), two keys, a dim-side key on a join view (the rescan prunes
    * through the dirty dim rows), and the derived key alone. Returns
    * (join, keys, keyExprs, aggs); a single-table view ignores the dim
    * parts of the case.
    */
  private def view(i: Int, c: Case): (Boolean, Seq[String], Seq[(String, String)], String) = {
    val (join, delta, shape) = (i % 2 == 1, i / 2 % 2 == 0, i / 4 % 4)
    val phys = shape match {
      case 0 => Seq("g")
      case 1 => if (join) Seq("seg", "g") else Seq("g", "fk")
      case 2 => if (join) Seq("seg") else Seq("fk")
      case _ => Nil
    }
    // the join view's derived key mixes both sides' columns
    val keyExprs =
      if (c.derived || phys.isEmpty) Seq("kb" -> (if (join) "(k + w) % 3" else "k % 4"))
      else Nil
    val a = if (join) c.aggCol else "v"
    (join, phys ++ keyExprs.map(_._1), keyExprs,
      if (delta) s"cnt,sum:$a,avg:$a" else s"cnt,sum:$a,min:$a,max:$a,cntd:$a")
  }

  private var n = 0
  private var nextKey = 0L

  private def factRows(ks: Seq[Long]): Seq[(Long, Option[String], Long, Option[Long])] =
    ks.map(k => (k, if (k % 5 == 4) None else Some(s"g${k % 3}"), k % 6,
      if (k % 7 == 3) None else Some(k * 3 % 11)))

  private def dimRows(ks: Seq[Long]): Seq[(Long, String, Long)] =
    ks.map(d => (d, s"s${d % 3}", d % 4))

  private def run(fact: String, dim: String, op: Op): Unit = {
    val s = spark
    import s.implicits._
    (op.onDim, op.verb) match {
      case (false, "insert") =>
        LakeTable.append(s, fact, factRows(Seq(nextKey, nextKey + 1)).toDF("k", "g", "fk", "v"))
        nextKey += 2
      case (false, "update") =>
        LakeTable.update(s, fact, col("k") % 5 === op.a,
          Map("v" -> (col("v") + 7), "fk" -> ((col("fk") + 1) % 6)) ++
            (if (op.a % 2 == 0) Map("g" -> lit("g9")) else Map.empty), "g")
      case (false, "delete") =>
        LakeTable.delete(s, fact, col("k") % 6 === op.a, "g")
      case (false, _) =>
        val src = factRows(Seq(op.a.toLong, op.a + 7L, nextKey))
          .map { case (k, g, fk, v) => (k, g, fk, v.map(_ + 100)) }
        nextKey += 1
        LakeTable.merge(s, fact, src.toDF("k", "g", "fk", "v"), Seq("k"), "g")
      case (true, "insert") =>
        LakeTable.append(s, dim, dimRows(Seq(op.a.toLong)).toDF("dk", "seg", "w"))
      case (true, "update") =>
        LakeTable.update(s, dim, col("dk") === op.a,
          Map("seg" -> lit(s"s${op.a % 2}x"), "w" -> (col("w") + 1)), "seg")
      case (true, "delete") =>
        LakeTable.delete(s, dim, col("dk") === op.a, "seg")
      case (true, _) =>
        LakeTable.merge(s, dim,
          Seq((op.a.toLong, "sm", op.a + 2L), (op.a + 6L, "sm", 1L)).toDF("dk", "seg", "w"),
          Seq("dk"), "seg")
    }
  }

  /** The view's rows (keys and visible aggregates) against a full
    * recompute of its stored definition, as sorted multisets — both
    * sides in one collect.
    */
  private def inSync(mv: String): Boolean = {
    val fresh = spark.sql(
      MatView.definitionSelect(LakeTable.snapshot(spark, mv).meta.get.props))
    val stored = LakeTable.read(spark, mv).select(fresh.columns.map(c => col(s"`$c`")): _*)
    val sides = fresh.withColumn("__fresh", lit(true))
      .unionByName(stored.withColumn("__fresh", lit(false))).collect()
      .groupBy(_.getAs[Boolean]("__fresh"))
      .map { case (k, rs) =>
        k -> rs.map(_.toSeq.init.map(String.valueOf)).sortBy(_.mkString("|")).toSeq }
    val (want, got) = (sides.getOrElse(true, Nil), sides.getOrElse(false, Nil))
    if (want != got) println(s"[MatViewProps] $mv diverged:\n want $want\n got  $got")
    want == got
  }

  property("refresh after random DML waves == full recompute of the definition") =
    forAll(genCase) { c =>
      val s = spark
      import s.implicits._
      val (join, keys, keyExprs, aggs) = view(n, c)
      n += 1
      nextKey = 100L
      val dir = java.nio.file.Files.createTempDirectory(s"graft-mvprops$n").toString
      val (fact, dim, mv) = (s"$dir/fact", s"$dir/dim", s"$dir/mv")
      LakeTable.init(s, fact, factRows(0L until 24L).toDF("k", "g", "fk", "v"),
        partitionCol = "g", statsCols = Seq("k", "fk"), deleteMode = c.factMode)
      if (join) {
        LakeTable.init(s, dim, dimRows(0L until 6L).toDF("dk", "seg", "w"),
          partitionCol = "seg", statsCols = Seq("dk"), deleteMode = c.dimMode)
        MatView.createJoin(s, mv, fact, dim, "fk", "dk", keys, MatView.parseAggs(aggs),
          where = c.where, dimWhere = c.dimWhere, keyExprs = keyExprs)
      } else
        MatView.create(s, mv, fact, keys, MatView.parseAggs(aggs),
          where = c.where, keyExprs = keyExprs)
      c.waves.forall { wave =>
        wave.foreach(op => run(fact, dim, if (join) op else op.copy(onDim = false)))
        MatView.refresh(s, mv) == LakeTable.snapshot(s, fact).version && inSync(mv)
      }
    }
}
