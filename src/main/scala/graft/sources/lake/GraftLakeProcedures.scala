package graft.sources.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

import graft.operators.LakeTable

/** SQL stored procedures for lake maintenance (the Iceberg
  * `CALL catalog.system.proc(...)` shape on Spark 4's DSv2
  * ProcedureCatalog — reference: iceberg SparkProcedures /
  * spark-sql-ref CALL):
  *
  * {{{
  *   CALL graft.system.optimize(table => 'db.t', zorder_cols => 'a,b')
  *   CALL graft.system.vacuum(table => 'db.t', retain_hours => 0.0, keep_versions => 2)
  *   CALL graft.system.restore(table => 'db.t', version => 3)
  *   CALL graft.system.history(table => 'db.t')
  * }}}
  *
  * OPTIMIZE / VACUUM / RESTORE are maintenance verbs with no ANSI
  * statement, so without procedures they were Scala-API-only — this is
  * the SQL face that closes that gap. Each call runs the SAME
  * transactional op the Scala API runs (atomic manifest commit,
  * optimistic concurrency) and returns its result as rows.
  */
private[lake] object GraftLakeProcedures {

  /** All procedures under the `system` namespace, keyed by lowercase
    * name. `rootOf` resolves a table-name argument ('db.t' or an
    * absolute '/path') to a table root the same way the catalog
    * resolves identifiers.
    */
  def all(spark: () => SparkSession, rootOf: String => String): Map[String, UnboundProcedure] = {

    def p(n: String, dt: DataType) = ProcedureParameter.in(n, dt).build()
    def pd(n: String, dt: DataType, default: String) =
      ProcedureParameter.in(n, dt).defaultValue(default).build()

    Map(
      "optimize" -> new LakeProc(
        "optimize",
        "transactional small-file compaction; optional sort/Z-order clustering; " +
          "optional WHERE scope (metadata-pruned partition groups only)",
        Seq(p("table", StringType),
          pd("min_files", IntegerType, "2"),
          pd("max_records_per_file", LongType, "0"),
          pd("sort_cols", StringType, "''"),
          pd("zorder_cols", StringType, "''"),
          pd("where", StringType, "''"))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          def cols(i: Int): Seq[String] =
            args.getUTF8String(i).toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val stats = LakeTable.optimize(spark(), rootOf(args.getUTF8String(0).toString),
            minFilesPerPartition = args.getInt(1),
            maxRecordsPerFile = args.getLong(2),
            sortCols = cols(3), zorderCols = cols(4),
            where = Some(args.getUTF8String(5).toString).filter(_.nonEmpty))
          (StructType(Seq(
            StructField("version", LongType), StructField("files_rewritten", LongType),
            StructField("files_carried", LongType), StructField("files_written", LongType))),
            Seq(InternalRow(stats.version, stats.filesRewritten,
              stats.filesCarried, stats.filesWritten)))
        }
      },

      "vacuum" -> new LakeProc(
        "vacuum",
        "reclaim unreferenced data files, bloom sidecars and manifest segments",
        Seq(p("table", StringType),
          pd("retain_hours", DoubleType, "168.0"),
          pd("keep_versions", IntegerType, "1"))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val removed = LakeTable.vacuum(spark(), rootOf(args.getUTF8String(0).toString),
            retainMillis = (args.getDouble(1) * 3600 * 1000).toLong,
            keepVersions = args.getInt(2))
          (StructType(Seq(StructField("files_removed", LongType))),
            Seq(InternalRow(removed)))
        }
      },

      "expire_snapshots" -> new LakeProc(
        "expire_snapshots",
        "expire snapshots committed before a timestamp (the keep_last newest " +
          "are always kept, as are tagged versions); expired versions refuse " +
          "time travel and their exclusive files reclaim",
        Seq(p("table", StringType),
          p("older_than", TimestampType),
          pd("keep_last", IntegerType, "1"))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val removed = LakeTable.expireSnapshots(spark(),
            rootOf(args.getUTF8String(0).toString),
            olderThanMillis = args.getLong(1) / 1000L, // micros -> millis
            keepLast = args.getInt(2))
          (StructType(Seq(StructField("files_removed", LongType))),
            Seq(InternalRow(removed)))
        }
      },

      "restore" -> new LakeProc(
        "restore",
        "roll the table back to an older version as a new forward commit",
        Seq(p("table", StringType), p("version", LongType))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val head = LakeTable.restore(spark(),
            rootOf(args.getUTF8String(0).toString), args.getLong(1))
          (StructType(Seq(
            StructField("restored_version", LongType), StructField("head_version", LongType))),
            Seq(InternalRow(args.getLong(1), head)))
        }
      },

      "tag" -> new LakeProc(
        "tag",
        "pin a committed version under a stable name (vacuum keeps it live; " +
          "VERSION AS OF 'name' resolves it)",
        Seq(p("table", StringType), p("name", StringType),
          pd("version", LongType, "-1"), // -1 = the current head
          pd("replace", BooleanType, "false"))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val root = rootOf(args.getUTF8String(0).toString)
          val v =
            if (args.getLong(2) >= 0) args.getLong(2)
            else LakeTable.snapshot(spark(), root).version
          LakeTable.tag(spark(), root, args.getUTF8String(1).toString, v,
            replace = args.getBoolean(3))
          (StructType(Seq(
            StructField("name", StringType), StructField("version", LongType))),
            Seq(InternalRow(args.getUTF8String(1).copy(), v)))
        }
      },

      "drop_tag" -> new LakeProc(
        "drop_tag",
        "remove a tag (the next vacuum may reclaim what only the tag kept alive)",
        Seq(p("table", StringType), p("name", StringType))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val dropped = LakeTable.dropTag(spark(),
            rootOf(args.getUTF8String(0).toString), args.getUTF8String(1).toString)
          (StructType(Seq(StructField("dropped", BooleanType))),
            Seq(InternalRow(dropped)))
        }
      },

      "branch" -> new LakeProc(
        "branch",
        "fork a writable branch at the current head (read/write it as " +
          "<table>.__branch_<name>; fast_forward merges it back)",
        Seq(p("table", StringType), p("name", StringType))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val root = rootOf(args.getUTF8String(0).toString)
          LakeTable.branch(spark(), root, args.getUTF8String(1).toString)
          (StructType(Seq(
            StructField("name", StringType), StructField("forked_at", LongType))),
            Seq(InternalRow(args.getUTF8String(1).copy(),
              LakeTable.snapshot(spark(), root).version)))
        }
      },

      "drop_branch" -> new LakeProc(
        "drop_branch",
        "remove a branch (files only it referenced become vacuum-reclaimable)",
        Seq(p("table", StringType), p("name", StringType))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val dropped = LakeTable.dropBranch(spark(),
            rootOf(args.getUTF8String(0).toString), args.getUTF8String(1).toString)
          (StructType(Seq(StructField("dropped", BooleanType))),
            Seq(InternalRow(dropped)))
        }
      },

      "fast_forward" -> new LakeProc(
        "fast_forward",
        "advance main to the branch head (refuses if main diverged from the fork base)",
        Seq(p("table", StringType), p("name", StringType))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val v = LakeTable.fastForward(spark(),
            rootOf(args.getUTF8String(0).toString), args.getUTF8String(1).toString)
          (StructType(Seq(StructField("head_version", LongType))),
            Seq(InternalRow(v)))
        }
      },

      "merge_branch" -> new LakeProc(
        "merge_branch",
        "merge a branch back into main: fast-forward when main is unchanged " +
          "since the fork, disjoint-files metadata rebase when it advanced " +
          "(disjoint deletion vectors of a shared file OR-merge); " +
          "refuses on overlapping rewrite sets or overlapping tombstones",
        Seq(p("table", StringType), p("name", StringType))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val v = LakeTable.mergeBranch(spark(),
            rootOf(args.getUTF8String(0).toString), args.getUTF8String(1).toString)
          (StructType(Seq(StructField("head_version", LongType))),
            Seq(InternalRow(v)))
        }
      },

      "branches" -> new LakeProc(
        "branches",
        "list branches as (name, head_version, fork_base)",
        Seq(p("table", StringType))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val bs = LakeTable.branches(spark(), rootOf(args.getUTF8String(0).toString))
          (StructType(Seq(
            StructField("name", StringType), StructField("head_version", LongType),
            StructField("fork_base", LongType))),
            bs.map { case (n, h, b) =>
              InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(n), h, b)
            })
        }
      },

      "tags" -> new LakeProc(
        "tags",
        "list snapshot tags as (name, version)",
        Seq(p("table", StringType))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val ts = LakeTable.tags(spark(), rootOf(args.getUTF8String(0).toString))
          (StructType(Seq(
            StructField("name", StringType), StructField("version", LongType))),
            ts.toSeq.sortBy(_._1).map { case (n, v) =>
              InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(n), v)
            })
        }
      },

      "history" -> new LakeProc(
        "history",
        "the per-version commit log (operation inferred from the file diff)",
        Seq(p("table", StringType))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val df = LakeTable.history(spark(), rootOf(args.getUTF8String(0).toString))
          // executeCollect returns InternalRows directly — no
          // row-encoder round-trip, and history is version-count-sized
          (df.schema, df.queryExecution.executedPlan.executeCollect().toSeq)
        }
      },

      "analyze" -> new LakeProc(
        "analyze",
        "metadata-only table profile from the manifest (no data I/O)",
        Seq(p("table", StringType))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val root = rootOf(args.getUTF8String(0).toString)
          val s0 = LakeTable.snapshot(spark(), root)
          require(s0.version > 0, s"graft-lake: no committed snapshot at $root")
          val es = s0.entries
          // exact-or-null (the countRows / __partitions contract): a
          // legacy entry without the cell nulls the whole sum rather
          // than silently under-reporting rows/bytes
          def sumOpt(xs: Seq[Option[Long]]): Any =
            if (xs.exists(_.isEmpty)) null else Long.box(xs.flatten.sum)
          (StructType(Seq(
            StructField("version", LongType), StructField("files", LongType),
            StructField("partitions", LongType), StructField("rows", LongType),
            StructField("bytes", LongType))),
            Seq(InternalRow(s0.version, es.size.toLong,
              es.map(_.part).distinct.size.toLong,
              sumOpt(es.map(_.liveRows)), sumOpt(es.map(_.bytes)))))
        }
      },

      "create_matview" -> new LakeProc(
        "create_matview",
        "materialize a group-by aggregate view over a lake table " +
          "(aggs: 'cnt,sum:c,min:c,max:c'); optional where filters the source, " +
          "optional key_exprs derives group keys ('name:=sql' pairs, ';'-separated); " +
          "refresh_matview keeps it in sync",
        Seq(p("view", StringType), p("table", StringType),
          p("keys", StringType), p("aggs", StringType),
          pd("where", StringType, "''"), pd("key_exprs", StringType, "''"))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val v = graft.operators.MatView.create(spark(),
            rootOf(args.getUTF8String(0).toString),
            rootOf(args.getUTF8String(1).toString),
            args.getUTF8String(2).toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
            graft.operators.MatView.parseAggs(args.getUTF8String(3).toString),
            where = Some(args.getUTF8String(4).toString).filter(_.nonEmpty),
            keyExprs = parseKeyExprs("create_matview", args.getUTF8String(5).toString))
          (StructType(Seq(StructField("src_version", LongType))), Seq(InternalRow(v)))
        }
      },

      "create_matview_join" -> new LakeProc(
        "create_matview_join",
        "materialize a group-by aggregate view over fact JOIN dim " +
          "(inner equi-join; cnt/sum/avg delta-join maintained, min/max/cntd " +
          "via dirty-group join rescan); optional where filters the FACT side, " +
          "dim_where the DIM side; refresh_matview keeps it in sync against " +
          "BOTH sources",
        Seq(p("view", StringType), p("fact", StringType), p("dim", StringType),
          p("join_fact", StringType), p("join_dim", StringType),
          p("keys", StringType), p("aggs", StringType),
          pd("where", StringType, "''"),
          pd("dim_where", StringType, "''"),
          pd("key_exprs", StringType, "''"))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val v = graft.operators.MatView.createJoin(spark(),
            rootOf(args.getUTF8String(0).toString),
            rootOf(args.getUTF8String(1).toString),
            rootOf(args.getUTF8String(2).toString),
            args.getUTF8String(3).toString,
            args.getUTF8String(4).toString,
            args.getUTF8String(5).toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
            graft.operators.MatView.parseAggs(args.getUTF8String(6).toString),
            where = Some(args.getUTF8String(7).toString).filter(_.nonEmpty),
            dimWhere = Some(args.getUTF8String(8).toString).filter(_.nonEmpty),
            keyExprs = parseKeyExprs("create_matview_join", args.getUTF8String(9).toString))
          (StructType(Seq(StructField("src_version", LongType))), Seq(InternalRow(v)))
        }
      },

      "sync_identity" -> new LakeProc(
        "sync_identity",
        "re-derive identity high-water marks from the data present " +
          "(after explicit inserts on BY DEFAULT identity columns)",
        Seq(p("table", StringType))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val marks = LakeTable.syncIdentity(spark(),
            rootOf(args.getUTF8String(0).toString))
          (StructType(Seq(
            StructField("column", StringType), StructField("high_water", LongType))),
            marks.map { case (c, v) =>
              InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(c), v)
            })
        }
      },

      "set_partitioning" -> new LakeProc(
        "set_partitioning",
        "change the partition spec for FUTURE writes (metadata-only commit; " +
          "existing files keep pruning under the spec they were written with; " +
          "OPTIMIZE migrates old groups as it compacts)",
        Seq(p("table", StringType), p("spec", StringType))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val (c, fn) = parsePartSpec(args.getUTF8String(1).toString)
          val v = LakeTable.setPartitioning(spark(),
            rootOf(args.getUTF8String(0).toString), c, fn)
          (StructType(Seq(StructField("version", LongType))), Seq(InternalRow(v)))
        }
      },

      "refresh_matview" -> new LakeProc(
        "refresh_matview",
        "apply the source's change window since the last refresh " +
          "(delta merge for cnt/sum, dirty-group re-aggregate for min/max)",
        Seq(p("view", StringType))) {
        override protected def run(args: InternalRow): (StructType, Seq[InternalRow]) = {
          val v = graft.operators.MatView.refresh(spark(),
            rootOf(args.getUTF8String(0).toString))
          (StructType(Seq(StructField("src_version", LongType))), Seq(InternalRow(v)))
        }
      }
    ).map { case (k, v) => k -> (v: UnboundProcedure) }
  }

  /** Parse the matview procedures' `key_exprs` argument: `name:=sql`
    * pairs, `;`-separated.
    */
  private def parseKeyExprs(proc: String, s: String): Seq[(String, String)] =
    s.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { pair =>
      val i = pair.indexOf(":=")
      require(i > 0, s"$proc: bad key_exprs pair '$pair' (want name:=sql)")
      (pair.substring(0, i).trim, pair.substring(i + 2).trim)
    }

  /** Parse a partition-spec string into (column, PartitionFn code):
    * `col` / `identity(col)` / `days|months|hours(col)` /
    * `bucket(n, col)` / `truncate(n, col)` — the same transform surface
    * CREATE TABLE's PARTITIONED BY accepts.
    */
  private val SpecFn1 = "(?i)^(identity|days|months|hours)\\s*\\(\\s*([^)]+?)\\s*\\)$".r
  private val SpecFn2 = "(?i)^(bucket|truncate)\\s*\\(\\s*(\\d+)\\s*,\\s*([^)]+?)\\s*\\)$".r
  private[lake] def parsePartSpec(s: String): (String, String) = s.trim match {
    case SpecFn1(fn, c) =>
      val f = fn.toLowerCase
      (c, if (f == "identity") graft.operators.PartitionFn.Identity else f)
    case SpecFn2(fn, n, c) => (c, s"${fn.toLowerCase}:$n")
    case c if c.nonEmpty && !c.contains("(") => (c, graft.operators.PartitionFn.Identity)
    case other => throw new IllegalArgumentException(
      s"graft-lake set_partitioning: unparseable spec '$other' (expected col, " +
        "identity(col), days/months/hours(col), bucket(n, col) or truncate(n, col))")
  }

  /** One procedure = its own unbound AND bound form (parameters are
    * static, so bind() is identity — the Iceberg BaseProcedure shape).
    * Output schema is produced WITH the rows at call time, served
    * through a driver-local [[LocalScan]] (results are version- or
    * stats-sized, never data-sized).
    */
  private abstract class LakeProc(
      procName: String,
      procDescription: String,
      params: Seq[ProcedureParameter])
    extends UnboundProcedure with BoundProcedure {

    override def name(): String = procName
    override def description(): String = procDescription
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false

    protected def run(args: InternalRow): (StructType, Seq[InternalRow])

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (schema, rows) = run(input)
      val arr = rows.toArray
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = arr
        override def readSchema(): StructType = schema
      }).iterator()
    }
  }
}
