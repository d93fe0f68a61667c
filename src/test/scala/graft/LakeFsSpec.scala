package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import scala.util.Using
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** The lake filesystem (`graftfs:`): no forked `chmod` / `readlink` on
  * the tail's write path; on disk the same files, checksums and modes as
  * Hadoop's `file:` filesystem, and the same statuses reported.
  */
class LakeFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = GenConfig(numEvents = 3000L, numRepos = 20L, pathsPerRepo = 10L)

  private def walk(root: String): Seq[JPath] =
    Using.resource(Files.walk(Paths.get(root)))(_.iterator().asScala.toSeq)

  /** Commands of the processes this JVM started while `body` ran. */
  private def processesDuring(dir: String)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Paths.get(dir, "process-start.jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.map(_.getString("command")).toSeq
    } finally rec.close()
  }

  test("a Submit tail drain with audit, dlq and compaction forks no chmod or readlink") {
    val base = TestSpark.tmpDir("graft-lakefs-forks")
    Pipeline.writeLogSegments(spark, cfg, s"$base/log", segments = 2)
    // a third segment with one poison row, so the drain writes the DLQ
    Seq(("X", 1000000L, new java.sql.Timestamp(1700000000000L), 1, "r0", "p0",
        null: String, """{"commit":"c","lang":"en","content":"x"}"""))
      .toDF(Pipeline.envelopeSchema.fieldNames.toSeq: _*)
      .coalesce(1).write.parquet(s"$base/log/seg-00002")
    val commands = processesDuring(base) {
      Submit.run(spark, Array("tail", s"$base/log", s"$base/t", s"$base/ckpt",
        "--audit", s"$base/audit", "--dlq", s"$base/dlq", "--compact-every", "2"))
    }
    // the drain did every write the count covers
    val head = new LakeTable(s"$base/t").latest().get
    assert(head.epochId == 2L, s"three segments, three epochs: ${head.epochId}")
    assert(head.groups.exists(_.kind == "base"), "the cadence compaction ran")
    assert(new DeadLetterQueue(s"$base/dlq").read(spark).count() == 1L)
    assert(new Audit(s"$base/audit").read(spark).count() > 0L)
    assert(Files.exists(Paths.get(base, "ckpt", "commits", "2")))

    val forked = commands.filter(c =>
      Set("chmod", "readlink").contains(c.takeWhile(_ != ' ').split('/').last))
    assert(forked.isEmpty,
      s"${forked.size} chmod/readlink processes, e.g. ${forked.take(3).mkString("; ")}")
  }

  test("lake files read back identically through file: paths; checksums written and verified") {
    val base = TestSpark.tmpDir("graft-lakefs-interop")
    Pipeline.writeLogSegments(spark, cfg, s"$base/log", segments = 2)
    Pipeline.replaySegments(spark, s"$base/log", s"$base/t", 2)
    val groups = new LakeTable(s"$base/t").latest().get.groups
    assert(groups.size == 2)
    groups.map(g => s"$base/t/${g.dir}").foreach { d =>
      val viaLake = spark.read.parquet(LakeFs.path(spark, d))
      val viaFile = spark.read.parquet(s"file://$d")
      assert(viaLake.schema == viaFile.schema, d)
      assert(viaLake.count() > 0L, d)
      assert(viaLake.exceptAll(viaFile).isEmpty && viaFile.exceptAll(viaLake).isEmpty, d)
    }
    val parquet = walk(s"$base/t/data").filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parquet.nonEmpty)
    parquet.foreach(f => assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f))

    // a flipped byte fails the read: the checksum is verified, not only written
    val p = new Path(LakeFs.path(spark, s"$base/crc/x.bin"))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Using.resource(fs.create(p))(_.write(Array.fill[Byte](2048)(7)))
    val onDisk = Paths.get(base, "crc", "x.bin")
    assert(Files.exists(onDisk.resolveSibling(".x.bin.crc")))
    val bytes = Files.readAllBytes(onDisk)
    bytes(100) = 8
    Files.write(onDisk, bytes)
    intercept[ChecksumException](Using.resource(fs.open(p))(_.readFully(new Array[Byte](2048))))
  }

  /** Relative path -> mode of everything under `root`, with the UUIDs
    * of Spark's file names masked. */
  private def modes(root: String): Map[String, String] =
    walk(root).filter(_.toString != root).map { f =>
      Paths.get(root).relativize(f).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "U") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
    }.toMap

  test("file and directory modes equal Hadoop's LocalFileSystem under the same umask") {
    LakeFs.path(spark, "/") // registers the scheme on the session conf
    Seq("022", "077", "002").foreach { umask =>
      val base = TestSpark.tmpDir("graft-lakefs-modes")
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.permissions.umask-mode", umask)
      // what the table writes (FileSystem API) and what the checkpoint
      // does (FileContext create + overwriting rename), on both schemes;
      // then the modes on disk and the ones each filesystem reports
      def exercise(scheme: String): (Map[String, String], Seq[String]) = {
        val root = s"$base/$scheme"
        def at(rel: String) = new Path(s"$scheme://$root/$rel")
        val fs = FileSystem.newInstance(URI.create(s"$scheme:///"), conf)
        val reported =
          try {
            fs.mkdirs(at("d1/d2"))
            Using.resource(fs.create(at("d1/d2/f")))(_.write(1))
            Using.resource(fs.create(at("d3/g")))(_.write(2))
            fs.setPermission(at("d3/g"), new FsPermission("751"))
            (fs.listStatus(at("d1")) ++ Seq("d1/d2/f", "d3/g").map(r => fs.getFileStatus(at(r))))
              .map(st => s"${st.getPath.getName} ${st.getPermission} ${st.getOwner} ${st.getGroup}")
              .toSeq
          } finally fs.close()
        val fc = FileContext.getFileContext(URI.create(s"$scheme:///"), conf)
        Using.resource(fc.create(at("ck/.0.tmp"), java.util.EnumSet.of(
          org.apache.hadoop.fs.CreateFlag.CREATE), Options.CreateOpts.createParent()))(_.write(3))
        fc.rename(at("ck/.0.tmp"), at("ck/0"), Options.Rename.OVERWRITE)
        (modes(root), reported)
      }
      val viaFile = exercise("file")
      assert(viaFile._1.size == 10, viaFile) // 4 dirs, 3 files and their 3 .crc files
      assert(exercise(LakeFs.Scheme) == viaFile, s"umask $umask")
    }
    // and a Spark parquet write under the session's umask
    val base = TestSpark.tmpDir("graft-lakefs-spark-modes")
    spark.range(20).repartition(2).write.parquet(s"file://$base/file")
    spark.range(20).repartition(2).write.parquet(LakeFs.path(spark, s"$base/lake"))
    assert(modes(s"$base/lake") == modes(s"$base/file"))
  }
  test("link status equals Hadoop's for a file, a symlink and a dangling symlink, with no fork") {
    val base = TestSpark.tmpDir("graft-lakefs-links")
    Files.write(Paths.get(base, "f"), Array.fill[Byte](10)(1))
    Files.createSymbolicLink(Paths.get(base, "l"), Paths.get("f"))
    Files.createSymbolicLink(Paths.get(base, "dangling"), Paths.get("gone"))
    val conf = spark.sparkContext.hadoopConfiguration
    val local = FileSystem.get(URI.create("file:///"), conf)
    val lake = new Path(LakeFs.path(spark, base)).getFileSystem(conf)
    // Hadoop passes the path string to `readlink` as it is, so it sees
    // a link only through a scheme-less path; the lake filesystem gets
    // the qualified one its callers use
    def view(fs: FileSystem, path: String) = {
      val s = fs.getFileLinkStatus(new Path(path))
      (s.isSymlink, s.isFile, s.getLen, if (s.isSymlink) s.getSymlink.toUri.getPath else "",
        s.getPermission.toString, s.getOwner, s.getGroup)
    }
    val names = Seq("f", "l", "dangling")
    val want = names.map(n => view(local, s"$base/$n"))
    assert(want.map(_._1) == Seq(false, true, true))
    var got = Seq.empty[(Boolean, Boolean, Long, String, String, String, String)]
    val commands = processesDuring(base) { got = names.map(n => view(lake, LakeFs.path(spark, s"$base/$n"))) }
    assert(got == want)
    assert(commands.isEmpty, commands)
  }

  test("a table and checkpoint written through file: by the previous release resume") {
    // made by the release before the lake filesystem (see FIXTURES.md):
    // `Submit tail --audit --dlq --compact-every 2` drained seg-00000..1
    // of a 4-segment log; seg-00002..3 wait in pending/
    val fixture = Paths.get(sys.props("user.dir"), "src", "test", "fixtures", "parent-tail")
    assert(Files.isDirectory(fixture), s"fixture missing: $fixture")
    val base = TestSpark.tmpDir("graft-lakefs-resume")
    walk(fixture.toString).foreach(f =>
      if (!Files.isDirectory(f)) {
        val to = Paths.get(base).resolve(fixture.relativize(f).toString)
        Files.createDirectories(to.getParent)
        Files.copy(f, to)
      })
    // relocate: the source log names the files it admitted by absolute
    // path; a rewritten entry drops its checksum (read unverified)
    val sources = Paths.get(base, "ckpt", "sources", "0")
    walk(sources.toString).filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".")).foreach { f =>
      Files.writeString(f, Files.readString(f)
        .replaceAll("\"path\":\"[^\"]*/log/", s"\"path\":\"file://$base/log/"))
      Files.delete(f.resolveSibling(s".${f.getFileName}.crc"))
    }
    val table = new LakeTable(s"$base/t")
    assert(table.latest().get.epochId == 1L)
    Seq("seg-00002", "seg-00003").foreach(seg =>
      Files.move(Paths.get(base, "pending", seg), Paths.get(base, "log", seg)))
    Submit.run(spark, Array("tail", s"$base/log", s"$base/t", s"$base/ckpt",
      "--audit", s"$base/audit", "--dlq", s"$base/dlq", "--compact-every", "2"))

    // only the two landed segments were admitted, as batches 2 and 3
    assert(table.latest().get.epochId == 3L)
    assert(walk(s"$base/ckpt/commits").map(_.getFileName.toString).filter(_.forall(_.isDigit))
      .toSet == Set("0", "1", "2", "3"))
    val cols = Seq("repo", "path", "lsn", "commit", "lang", "content", "stargazers").map(
      org.apache.spark.sql.functions.col)
    val got = table.read(spark).select(cols: _*)
    val want = Oracle.fold(spark,
      spark.read.schema(Pipeline.envelopeSchema).parquet(s"$base/log/seg-*")).select(cols: _*)
    assert(want.count() > 0L)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(new Audit(s"$base/audit").read(spark).select("epoch_id").distinct()
      .as[Long].collect().toSet == Set(0L, 1L, 2L, 3L))
  }
}
