package graft.sources.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset

import graft.operators.LakeTable

/** The version-offset streaming core of [[LakeMicroBatchStream]] and the
  * change-feed stream (one per stream, whether it was opened by path or
  * through the catalog): a micro-batch
  * (from, to] delivers exactly the files ADDED by pure-append commits in
  * that version range; a commit that REMOVES files (merge / delete /
  * optimize / restore) either fails crisply or is skipped wholly under
  * `skipChangeCommits` (the Delta semantics — rows added by a change
  * commit are NOT re-delivered, their original append already streamed
  * them).
  *
  * Entry lists are cached per version (manifests are immutable) in a
  * small LRU — bounded memory on a long-lived stream over a
  * frequently-committed table, while still serving the sequential
  * access pattern (batch N+1 starts at batch N's end version, so the
  * previous boundary manifest is a guaranteed hit).
  */
private[lake] class VersionWindow(spark: SparkSession, root: String) {

  private val MaxCached = 8

  private val cache =
    new java.util.LinkedHashMap[Long, Seq[LakeTable.Entry]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Seq[LakeTable.Entry]]): Boolean =
        size() > MaxCached
    }

  def entriesAt(v: Long): Seq[LakeTable.Entry] = synchronized {
    if (v <= 0) Nil
    else {
      val hit = cache.get(v)
      if (hit != null) hit
      else {
        val es = LakeTable.readManifest(spark, root, v)._2
        cache.put(v, es)
        es
      }
    }
  }

  /** Column TYPES at the window's end version UNREADABLE under the
    * stream's start schema (by name, for names present in both): files
    * written after an ALTER COLUMN TYPE carry the WIDE physical type,
    * and reading them under the stream's captured (narrow) schema is a
    * low-level parquet reader failure — so the stream refuses CRISPLY
    * with a restart instruction instead (the Delta schema-change stop).
    * Not skippable: unlike a change COMMIT, the type change is
    * permanent — every future file is wide.
    *
    * Direction matters: a stream RESTARTED after the widening captures
    * the WIDE schema, and with `maxVersionsPerTrigger` its first capped
    * batch can end BEFORE the widening commit, whose manifest is still
    * narrow. Reading narrow old files under the wide stream schema is
    * the supported reader up-conversion — refusing there would livelock
    * the restart the refusal message itself prescribes. So only a
    * manifest type that does NOT safely widen to the stream's type
    * drifts.
    */
  def requireTypesUnchanged(
      streamSchema: org.apache.spark.sql.types.StructType,
      to: Long): Unit = {
    val head = LakeTable.readManifest(spark, root, to)._1.schema
    val drift = streamSchema.fields.flatMap(f =>
      head.fields.find(_.name == f.name)
        .filter(h => h.dataType != f.dataType && !LakeTable.widens(h.dataType, f.dataType))
        .map(h => s"${f.name}: ${f.dataType.simpleString} -> ${h.dataType.simpleString}"))
    if (drift.nonEmpty) throw new IllegalStateException(
      s"graft-lake streaming: column types of $root changed since the stream " +
        s"started (${drift.mkString(", ")} — ALTER COLUMN TYPE). Restart the " +
        "stream to pick up the widened schema.")
  }

  /** Files added by pure-append commits in (from, to] — or the crisp
    * change-commit refusal.
    */
  def addedEntries(from: Long, to: Long, skipChangeCommits: Boolean): Seq[LakeTable.Entry] =
    ((from + 1) to to).flatMap { v =>
      val prevEntries = entriesAt(v - 1)
      val prev = prevEntries.map(_.rel).toSet
      val prevDv = prevEntries.map(e => e.rel -> e.dv).toMap
      val cur = entriesAt(v)
      val removed = prev -- cur.map(_.rel).toSet
      // a deletion-vector change edits rows of a file present in BOTH
      // versions — the one in-place mutation the format allows, and as
      // much a change commit as a COW rewrite
      val dvChanged = cur.exists(e => prevDv.get(e.rel).exists(_ != e.dv))
      if (removed.isEmpty && !dvChanged) cur.filterNot(e => prev.contains(e.rel))
      else if (skipChangeCommits) Nil
      else throw new IllegalStateException(
        s"graft-lake streaming: version $v of $root removed ${removed.size} file(s) " +
          (if (dvChanged) "and/or deletion-vector'd rows " else "") +
          "(merge/delete/optimize) — an append-only stream cannot represent it. " +
          "Set skipChangeCommits=true to skip change commits, or " +
          "readChangeFeed=true for full CDC.")
    }

  /** The admission decision shared by both faces: the next end version
    * given the last delivered one, an optional AvailableNow pin, and the
    * per-trigger version-span cap; -1 = nothing new.
    */
  def nextEndVersion(
      from: Long,
      pinnedVersion: Option[Long],
      maxVersionsPerTrigger: Option[Long]): Long = {
    val avail = pinnedVersion.getOrElse(LakeTable.snapshot(spark, root).version)
    val capped = maxVersionsPerTrigger.fold(avail)(m => math.min(avail, from + math.max(1L, m)))
    if (capped > from) capped else -1L
  }
}

/** The offset and admission core of both micro-batch faces (added files,
  * change slices): manifest-version offsets, the Trigger.AvailableNow
  * pin and `maxVersionsPerTrigger` ([[VersionWindow.nextEndVersion]]).
  * A face plans and commits the `(start, end]` window.
  */
abstract class VersionOffsetStream(
    spark: SparkSession,
    root: String,
    startingVersion: Long,
    maxVersionsPerTrigger: Option[Long])
  extends MicroBatchStream
  with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  protected val window = new VersionWindow(spark, root)

  protected def ver(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  @volatile private var pinnedVersion: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    pinnedVersion = Some(LakeTable.snapshot(spark, root).version)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): Offset = LongOffset(startingVersion)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = Option(start).map(ver).getOrElse(startingVersion)
    val end = window.nextEndVersion(from, pinnedVersion, maxVersionsPerTrigger)
    if (end > 0) LongOffset(end) else null
  }

  override def reportLatestOffset(): Offset = {
    val v = LakeTable.snapshot(spark, root).version
    if (v > startingVersion) LongOffset(v) else null
  }

  override def deserializeOffset(json: String): Offset = LongOffset(json.trim.toLong)

  override def stop(): Unit = ()
}
