package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.engine.{NioLocalFileSystem, NioLocalFs}
import graft.operators.LakeTable
import graft.streaming.StreamOps

/** The session's `file:` scheme (`NioLocalFileSystem`, `NioLocalFs`): lake
  * writes, vacuum and stream checkpoints start no `chmod`/`ls`/`readlink`
  * process, and every status field the stock raw local file system
  * reports reads the same.
  */
class NioLocalFileSystemSpec extends SparkSpec {

  private val forking = Set("chmod", "ls", "readlink", "stat")

  /** Commands of the processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq.map(_.getString("command"))
    } finally { rec.close(); Files.delete(out) }
  }

  test("lake DML, vacuum and a checkpointed stream start no chmod/ls/readlink process") {
    val conf = spark.sparkContext.hadoopConfiguration
    // Hadoop caches one FileSystem per scheme: a stock instance created
    // before the session would shadow the configured class
    assert(FileSystem.get(URI.create("file:///"), conf).getClass === classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.getClass === classOf[NioLocalFs])

    val wh = Files.createTempDirectory("graft-forks").toString
    val streamIn = s"$wh/stream_in"
    val streamRoot = s"$wh/stream_t"
    val cmds = processStarts {
      spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
      spark.sql("CREATE TABLE graft.db.fk_cow (k BIGINT, p STRING, v BIGINT) PARTITIONED BY (p)")
      spark.sql("CREATE TABLE graft.db.fk_mor (k BIGINT, p STRING, v BIGINT) PARTITIONED BY (p) " +
        "TBLPROPERTIES (deleteMode 'mor')")
      for (t <- Seq("fk_cow", "fk_mor"))
        spark.sql(s"INSERT INTO graft.db.$t SELECT id, cast(id % 3 as string), id FROM range(30)")
      spark.sql("UPDATE graft.db.fk_cow SET v = v + 1 WHERE k < 10")
      spark.sql("DELETE FROM graft.db.fk_mor WHERE k % 4 = 0")
      spark.sql("MERGE INTO graft.db.fk_cow t USING (SELECT id AS k, cast(id % 3 as string) AS p, " +
        "id * 7 AS v FROM range(25, 35)) s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      spark.sql("CALL graft.system.vacuum(table => 'db.fk_cow', retain_hours => 0.0D, " +
        "keep_versions => 1)").collect()

      val rows = spark.range(5).selectExpr("id AS k", "cast(id % 3 as string) AS p", "id AS v")
      rows.write.parquet(streamIn)
      LakeTable.init(spark, streamRoot, rows.limit(0), "p")
      val q = StreamOps.lakeAppendSink(spark.readStream.schema(rows.schema).parquet(streamIn),
        streamRoot, appId = "fork-spec").option("checkpointLocation", s"$wh/ckpt").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(spark.sql("SELECT count(*) FROM graft.db.fk_cow").head.getLong(0) === 35)
    assert(spark.sql("SELECT count(*) FROM graft.db.fk_mor").head.getLong(0) === 22)
    assert(LakeTable.read(spark, streamRoot).count() === 5)
    assert(Files.exists(java.nio.file.Paths.get(s"$wh/ckpt/commits/0")))
    val forked = cmds.filter(c => forking(c.trim.split("\\s+").head.split('/').last))
    assert(forked.isEmpty, s"${forked.size} of ${cmds.size} process starts:\n" +
      forked.take(10).mkString("\n"))
  }

  test("session file: scheme reports the stock status fields and keeps .crc verification") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(URI.create("file:///"), conf).asInstanceOf[LocalFileSystem]
    val stock = new RawLocalFileSystem
    stock.initialize(URI.create("file:///"), conf)
    val d = Files.createTempDirectory("graft-nio-parity").toString
    def p(rel: String) = new Path(s"$d/$rel")
    def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

    // created through the session FS: a file under the default 022 umask,
    // a mkdirs dir, chmod 0600 / 0750, a 01777 dir (the chmod fallback)
    val out = fs.create(p("f"))
    try out.write(Array.fill[Byte](3000)(7)) finally out.close()
    assert(fs.getFileStatus(p("f")).getPermission === perm("644"))
    fs.mkdirs(p("dir"))
    val o2 = fs.create(p("secret"))
    try o2.write(1) finally o2.close()
    fs.setPermission(p("secret"), perm("600"))
    fs.mkdirs(p("grp"))
    fs.setPermission(p("grp"), perm("750"))
    fs.mkdirs(p("shared"))
    fs.setPermission(p("shared"), perm("1777"))
    assert(fs.getFileStatus(p("shared")).getPermission.getStickyBit)
    Files.createSymbolicLink(java.nio.file.Paths.get(s"$d/link"), java.nio.file.Paths.get(s"$d/f"))
    Files.createSymbolicLink(java.nio.file.Paths.get(s"$d/dangling"),
      java.nio.file.Paths.get(s"$d/missing"))

    def view(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
      s.getPermission, s.getOwner, s.getGroup, if (s.isSymlink) Some(s.getSymlink) else None)
    val raw = fs.getRaw
    for (rel <- Seq("f", ".f.crc", "dir", "secret", "grp", "shared", "link", "dangling")) {
      if (rel != "dangling") {
        assert(view(raw.getFileStatus(p(rel))) === view(stock.getFileStatus(p(rel))), rel)
        assert(raw.listStatus(p(rel)).map(view).toSeq === stock.listStatus(p(rel)).map(view).toSeq,
          rel)
      }
      assert(view(raw.getFileLinkStatus(p(rel))) === view(stock.getFileLinkStatus(p(rel))), rel)
    }
    assert(raw.listStatus(new Path(d)).map(view).toSet ===
      stock.listStatus(new Path(d)).map(view).toSet)
    // FileContext names paths qualified; the link still reads as a link
    val fcLink = FileContext.getFileContext(URI.create("file:///"), conf)
      .getFileLinkStatus(new Path(s"file:$d/link"))
    assert(fcLink.isSymlink && fcLink.getSymlink.toUri.getPath === s"$d/f")
    // the checksummed face hides .crc and agrees with the raw entries
    assert(fs.listStatus(new Path(d)).map(view).toSet ===
      raw.listStatus(new Path(d)).filterNot(_.getPath.getName.endsWith(".crc")).map(view).toSet)

    // one flipped byte under an intact .crc still fails the read
    val data = new RandomAccessFile(s"$d/f", "rw")
    try { data.seek(1000); data.write(8) } finally data.close()
    intercept[ChecksumException] {
      val in = fs.open(p("f"))
      try in.readAllBytes() finally in.close()
    }
  }
}
