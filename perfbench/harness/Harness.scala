package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.{ManagedCache, SparkEngine}
import graft.operators.LakeTable
import graft.sources.Sources
import graft.streaming.StreamOps

/** Minimal JSON writing (values are pre-rendered JSON). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

final class Out(dir: Path) {
  Files.createDirectories(dir)
  def lines(name: String, ls: Seq[String]): Unit =
    Files.write(dir.resolve(name), ls.map(_ + "\n").mkString.getBytes(UTF_8))
  def path(name: String): String = dir.resolve(name).toString
}

/** One closed-loop operation: the next is issued when this one returns. */
final case class Op(round: Int, cls: String, kind: String, name: String, run: () => Long)

/** Runs one workload in this JVM and writes what it measured under --out.
  *
  * Timing is from the outside: each op is a call into the engine's public
  * surface (SparkEntry.queries, spark.sql on the graft catalog, the lake
  * stream sinks). Set-up runs --reps times, each repetition building its
  * own state and warming up on it, then the window runs whole rounds on
  * the last repetition's state. With --trace 1 a second window follows with
  * the [[Tracer]] listeners installed, every op under its own job group
  * and each lake op followed by a timed LakeTable.snapshot probe.
  */
object Harness {
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cpus = a("cpus").toInt
    if (a("workload") == "session") { // the build's class-data-sharing training run
      SparkEngine.session(master = s"local[$cpus]", shufflePartitions = cpus).stop()
      return
    }
    val out = new Out(Paths.get(a("out")))
    val trace = a("trace") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val c0 = now()
    val calib = hostCalibration(cpus)
    val calibMs = now() - c0

    val s0 = now()
    val cores = a("cores").toInt
    val spark = SparkEngine.session(master = s"local[$cores]", appName = "graft-perfbench",
      shufflePartitions = cores)
    val sessionMs = now() - s0

    val w: Workload = a("workload") match {
      case "analytic_read" =>
        new AnalyticRead(spark, a("inputs"), Paths.get(a("plan")), out, a("warm").toInt)
      case "lake_dml" => new LakeDml(spark, a("inputs"), Paths.get(a("plan")), out)
      case "lake_stream" => new LakeStream(spark, a("inputs"), Paths.get(a("plan")), out, a("root"))
      case other => sys.error(s"unknown workload $other")
    }
    val reps = a("reps").toInt
    val setupMs = (0 until reps).map { i =>
      val t = now(); w.setup(i, last = i == reps - 1); now() - t
    }
    val w0 = now()
    w.warmUp()
    val warmMs = now() - w0

    val seconds = a("seconds").toDouble
    val plain = window(spark, w, traced = false, seconds, firstRound = 0, firstOp = 0)
    // The traced run measures a second window with the recorders on; the
    // ops/s of the two windows give the tracing overhead.
    val (traced, tracer) =
      if (!trace) (None, None)
      else {
        val t = new Tracer(spark)
        (Some(window(spark, w, traced = true, seconds, plain.rounds, plain.ops.size)), Some(t))
      }

    val fin = w.finish()
    tracer.foreach(_.dump(out))
    out.lines("ops.jsonl", plain.ops.toSeq)
    traced.foreach { t =>
      out.lines("traced_ops.jsonl", t.ops.toSeq)
      out.lines("probes.jsonl", t.probes.toSeq)
    }
    def win(x: Window) = Json.obj("start" -> Json.num(x.start), "end" -> Json.num(x.end),
      "gc_ms" -> x.gcMs.toString)
    out.lines("meta.json", Seq(Json.obj(
      "workload" -> Json.str(a("workload")), "trace" -> trace.toString,
      "jvm_start" -> Json.num(jvmStart), "calib_ms" -> Json.num(calibMs),
      "session_ms" -> Json.num(sessionMs),
      "setup_ms" -> setupMs.map(Json.num).mkString("[", ",", "]"),
      "warm_ms" -> Json.num(warmMs),
      "window" -> win(plain), "traced_window" -> traced.map(win).getOrElse("null"),
      "rounds" -> traced.getOrElse(plain).rounds.toString,
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "cpus" -> cpus.toString, "cores" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "java_version" -> Json.str(System.getProperty("java.version")),
      "spark_version" -> Json.str(spark.version),
      "host_sec_mt" -> Json.num(calib), "finish" -> fin)))
    spark.stop()
  }

  final class Window(val ops: ArrayBuffer[String], val probes: ArrayBuffer[String],
      val rounds: Int, val start: Double, val end: Double, val gcMs: Long)

  /** Closed loop over whole rounds until `seconds` have passed and at
    * least the workload's minimum of rounds has run. */
  private def window(spark: SparkSession, w: Workload, traced: Boolean, seconds: Double,
      firstRound: Int, firstOp: Int): Window = {
    val ops = ArrayBuffer.empty[String]
    val probes = ArrayBuffer.empty[String]
    if (traced) w.probe("") // baseline for the first op's file diff
    val gc0 = gcMillis()
    val start = now()
    val deadline = start + seconds * 1000
    var round = firstRound
    while ((now() < deadline || round - firstRound < w.minRounds) && w.hasRound(round)) {
      for (op <- w.round(round)) {
        val id = s"op-${firstOp + ops.size}"
        if (traced) spark.sparkContext.setJobGroup(id, op.name, interruptOnCancel = false)
        val st = now()
        val (ok, rows, err) =
          try (true, op.run(), "")
          catch { case e: Throwable => (false, -1L, String.valueOf(e.getMessage).take(300)) }
        val en = now()
        if (traced) {
          spark.sparkContext.clearJobGroup()
          probes ++= w.probe(id)
        }
        ops += Json.obj("id" -> Json.str(id), "round" -> op.round.toString,
          "cls" -> Json.str(op.cls), "kind" -> Json.str(op.kind), "name" -> Json.str(op.name),
          "start" -> Json.num(st), "end" -> Json.num(en), "ok" -> ok.toString,
          "rows" -> rows.toString, "error" -> Json.str(err))
      }
      round += 1
    }
    new Window(ops, probes, round, start, now(), gcMillis() - gc0)
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** The multi-thread register spin behind graft.Bench's host_factor_mt, at a
    * quarter of its iteration count: one thread per core, wall time of the
    * slowest, min of two after a warm-up. */
  private def hostCalibration(cpus: Int): Double = {
    def spin(): Unit = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < 100000000L) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x += 0x9E3779B97F4A7C15L; i += 1
      }
      if (x == 42L) System.err.println("")
    }
    def spinMt(): Double = {
      val t = System.nanoTime()
      val ts = (0 until cpus).map(_ => new Thread { override def run(): Unit = spin() })
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t) / 1e9
    }
    spinMt()
    math.min(spinMt(), spinMt())
  }
}

trait Workload {
  /** One set-up repetition: builds its own state and runs the untimed
    * warm-up on it. The window runs on the `last` repetition's state. */
  def setup(rep: Int, last: Boolean): Unit
  /** Untimed rounds after the last set-up repetition, on its state, so the
    * window starts with the JIT done compiling the paths it measures. Set-up
    * time counts it whole. */
  def warmUp(): Unit = ()
  def hasRound(r: Int): Boolean
  def round(r: Int): Seq[Op]
  /** Fewest rounds a window runs, however long they take. */
  def minRounds: Int = 1
  /** Traced runs only: per-op probe records (JSON lines). */
  def probe(opId: String): Seq[String] = Nil
  /** Untimed end of run: dumps what the output checks read. */
  def finish(): String
}

/** Lake snapshot statistics, read through the public LakeTable.snapshot. */
object Lake {
  def stats(spark: SparkSession, root: String): Map[String, Double] = stats(root, LakeTable.snapshot(spark, root))

  private def stats(root: String, s: LakeTable.Snapshot): Map[String, Double] = {
    val dvBytes = s.entries.flatMap(_.dv).map { d =>
      val p = Paths.get(root, d.rel)
      if (Files.exists(p)) Files.size(p).toDouble else 0.0
    }.sum
    Map(
      "version" -> s.version.toDouble,
      "files" -> s.entries.size.toDouble,
      "dv_files" -> s.entries.count(_.dv.nonEmpty).toDouble,
      "bytes" -> (s.entries.flatMap(_.bytes).sum + dvBytes),
      "rows" -> (s.entries.flatMap(_.rows).sum - s.entries.flatMap(_.dv).map(_.card).sum).toDouble)
  }

  def json(m: Map[String, Double]): String =
    Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*)

  /** Traced runs: a timed snapshot after each op, diffed against the last
    * one of the same table for the files the op added and removed. */
  final class Probe(spark: SparkSession) {
    private val last = scala.collection.mutable.Map.empty[String, Set[String]]
    def apply(opId: String, table: String, root: String): String = {
      val t = Harness.now()
      val snap = LakeTable.snapshot(spark, root)
      val en = Harness.now()
      val files = snap.entries.map(_.rel).toSet
      val prev = last.getOrElse(table, files)
      last(table) = files
      Json.obj("op" -> Json.str(opId), "table" -> Json.str(table), "start" -> Json.num(t),
        "end" -> Json.num(en), "added" -> (files -- prev).size.toString,
        "removed" -> (prev -- files).size.toString, "stats" -> json(stats(root, snap)))
    }
  }
}

// ---- analytic_read -------------------------------------------------------

final class AnalyticRead(spark: SparkSession, dir: String, plan: Path, out: Out, warmPasses: Int)
    extends Workload {
  private val passes: Seq[Seq[String]] =
    Files.readAllLines(plan).asScala.toSeq.filter(_.nonEmpty).map(_.split(",").toSeq)
  private val queries = graft.SparkEntry.queries
  private val names = passes.head.sorted

  /** Opens every input through Sources.table, then one untimed pass. */
  def setup(rep: Int, last: Boolean): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").foreach(t => Sources.table(spark, dir, t).schema)
    names.foreach(runNoop)
  }

  /** Pass times keep falling for tens of passes while the JIT compiles
    * Catalyst's driver-side code (3.7 s to 2.9 s over the first seven on 4
    * cores); the set-up repetitions run two of them. */
  override def warmUp(): Unit = (0 until warmPasses).foreach(_ => names.foreach(runNoop))

  private def runNoop(n: String): Long = {
    ManagedCache.unpersistAll()
    queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
    0L
  }

  def hasRound(r: Int): Boolean = r < passes.size
  /** A warm pass takes ~3 s; the window's rate is the median of three or
    * more, so one pass slowed by a neighbour does not move it. */
  override def minRounds: Int = 3

  def round(r: Int): Seq[Op] = passes(r).map(n => Op(r, "read", family(n), n, () => runNoop(n)))

  private def family(n: String): String =
    if (graft.queries.TpchQueries.queries.contains(n)) "tpch"
    else if (graft.queries.LabQueries.queries.contains(n)) "lab"
    else if (graft.queries.LlmQueries.queries.contains(n)) "llm"
    else "ext"

  /** Writes each result where the output check reads it; returns the
    * oracle SQL of each query. */
  def finish(): String = {
    names.foreach { n =>
      ManagedCache.unpersistAll()
      queries(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(out.path(s"result/$n"))
    }
    val oracle = graft.SparkEntry.oracleSql
    names.filter(oracle.contains).map(n => s"${Json.str(n)}:${Json.str(oracle(n))}")
      .mkString("{", ",", "}")
  }
}

// ---- lake_dml ------------------------------------------------------------

final class LakeDml(spark: SparkSession, dir: String, plan: Path, out: Out) extends Workload {
  private case class Stmt(round: Int, cls: String, kind: String, table: String, sql: String)
  private val lines = Files.readAllLines(plan).asScala.toSeq.filter(_.nonEmpty)
  private val seedSql = lines.head
  private val matviewSql = lines(1)
  private val stmts = lines.drop(2).map(_.split("\t", 5)).map(p => Stmt(p(0).toInt, p(1), p(2), p(3), p(4)))
  private val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
  private var names = Map.empty[String, String]

  private def root(table: String): String = s"$warehouse/db/${names(table).stripPrefix("graft.db.")}"
  private def fill(sql: String): String =
    names.foldLeft(sql) { case (s, (k, v)) => s.replace(s"{$k}", v) }

  /** Seeds one COW table, one MOR table and a matview over the COW one,
    * then runs round -1 of the statement log on them. */
  def setup(rep: Int, last: Boolean): Unit = {
    names = Map("cow" -> s"graft.db.cow$rep", "mor" -> s"graft.db.mor$rep", "mv" -> s"graft.db.mv$rep")
    Sources.table(spark, dir, "orders").createOrReplaceTempView("orders")
    for ((t, mode) <- Seq("cow" -> "cow", "mor" -> "mor")) {
      spark.sql(s"CREATE TABLE ${names(t)} (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING) " +
        s"PARTITIONED BY (o_orderpriority) TBLPROPERTIES (statsCols 'o_orderkey', deleteMode '$mode')")
      spark.sql(s"INSERT INTO ${names(t)} $seedSql")
    }
    spark.sql(s"CREATE MATERIALIZED VIEW ${names("mv")} AS ${fill(matviewSql.replace("{t}", "{cow}"))}")
    stmts.filter(_.round < 0).foreach(run)
  }

  private def run(s: Stmt): Long = {
    val df = spark.sql(fill(s.sql))
    if (s.cls == "read") df.collect().length.toLong else 0L
  }

  private val rounds = stmts.filter(_.round >= 0).groupBy(_.round)
  def hasRound(r: Int): Boolean = rounds.contains(r)
  /** A round takes ~11 s; two give the round rate a second sample. */
  override def minRounds: Int = 2
  def round(r: Int): Seq[Op] = rounds(r).map(s => Op(r, s.cls, s.kind, s"${s.kind}_${s.table}", () => run(s)))

  private lazy val probes = new Lake.Probe(spark)
  override def probe(opId: String): Seq[String] = Seq("cow", "mor").map(t => probes(opId, t, root(t)))

  /** A last REFRESH so the view is current, then every table to parquet. */
  def finish(): String = {
    spark.sql(fill("REFRESH MATERIALIZED VIEW {mv}"))
    Seq("cow", "mor", "mv").foreach { t =>
      spark.table(names(t)).write.mode("overwrite").parquet(out.path(s"result/$t"))
    }
    Json.obj("cow" -> Lake.json(Lake.stats(spark, root("cow"))),
      "mor" -> Lake.json(Lake.stats(spark, root("mor"))))
  }
}

// ---- lake_stream ---------------------------------------------------------

/** Arrival files land one at a time in a directory two streams read: a
  * lakeAppendSink fact table and a lakeMergeSink latest-row-per-user table.
  * One op = land one file, then processAllAvailable on both streams.
  */
final class LakeStream(spark: SparkSession, dir: String, plan: Path, out: Out, runRoot: String)
    extends Workload {
  private val files = Files.readAllLines(plan).asScala.toSeq.filter(_.nonEmpty)
  private val warmFiles = 3
  private var factRoot, stateRoot, arrivals = ""
  private var streams = Seq.empty[StreamingQuery]
  private var landed = 0

  private def prepared(df: DataFrame): DataFrame =
    Sources.normalizeEventTs(df).withColumn("ub", (col("user_id") % 8).cast("string"))

  private def latest(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy(col("ts").desc)
    df.withColumn("__r", row_number().over(w)).where(col("__r") === 1).drop("__r")
  }

  /** Inits both lake tables from the first file, starts both streams and
    * lands the warm-up files; the streams of all but the last repetition
    * are stopped again. Files are copied, so every repetition lands the
    * same ones. */
  def setup(rep: Int, last: Boolean): Unit = {
    val base = s"$runRoot/stream$rep"
    factRoot = s"$base/fact"; stateRoot = s"$base/state"; arrivals = s"$base/arrivals"
    Files.createDirectories(Paths.get(arrivals))
    val first = prepared(spark.read.parquet(files.head))
    LakeTable.init(spark, factRoot, first, "event_type", statsCols = Seq("event_id"))
    LakeTable.init(spark, stateRoot, latest(first), "ub", statsCols = Seq("user_id"))
    val schema = spark.read.parquet(files.head).schema
    val src = prepared(spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(arrivals))
    streams = Seq(
      StreamOps.lakeAppendSink(src, factRoot, "perfbench-fact").queryName(s"fact$rep")
        .option("checkpointLocation", s"$base/ckpt/fact").start(),
      StreamOps.lakeMergeSink(src, stateRoot, Seq("user_id"), "ub", "ts").queryName(s"state$rep")
        .outputMode("update").option("checkpointLocation", s"$base/ckpt/state").start())
    landed = 1
    (0 until warmFiles).foreach(_ => land())
    if (!last) streams.foreach(_.stop())
  }

  /** Copies the next file in under a hidden name, which the file source
    * skips, and renames it into place, so a micro-batch never sees half a
    * file. */
  private def land(): Long = {
    val f = Paths.get(files(landed))
    val tmp = Paths.get(arrivals, "." + f.getFileName)
    Files.copy(f, tmp)
    Files.move(tmp, Paths.get(arrivals, f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
    landed += 1
    streams.foreach(_.processAllAvailable())
    0L
  }

  def hasRound(r: Int): Boolean = landed < files.size
  def round(r: Int): Seq[Op] = Seq(Op(r, "batch", "micro_batch", "land+process", () => land()))

  private lazy val probes = new Lake.Probe(spark)
  override def probe(opId: String): Seq[String] =
    Seq(probes(opId, "fact", factRoot), probes(opId, "state", stateRoot))

  def finish(): String = {
    streams.foreach(_.stop())
    LakeTable.read(spark, factRoot).write.parquet(out.path("result/fact"))
    LakeTable.read(spark, stateRoot).write.parquet(out.path("result/state"))
    Json.obj("landed" -> landed.toString,
      "fact" -> Lake.json(Lake.stats(spark, factRoot)),
      "state" -> Lake.json(Lake.stats(spark, stateRoot)))
  }
}
