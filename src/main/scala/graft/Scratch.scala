package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Graft's scratch space: one fast base directory, per-input gate
  * directories, and one recursive delete. */
object Scratch {

  /** Fast scratch: tmpfs when available (the sandbox stand-in for
    * cluster-local NVMe shuffle disks), else java.io.tmpdir. Bench's
    * spark.local.dir and CDC log, and `StreamingOps.runToBatch`'s staged
    * source and checkpoint live here. */
  val base: Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isWritable(shm)) shm else Paths.get(sys.props("java.io.tmpdir"))
  }

  /** Stable per-input scratch directories under java.io.tmpdir for
    * gates/fixtures that materialize a derived table (TSV round-trip,
    * the q61/q62 scratch lake). Keyed by the FULL md5 of the absolute
    * input path: a 32-bit `hashCode` key can collide across two
    * different dataset paths, and two concurrent runs would then delete
    * and rebuild each other's scratch mid-gate. Fixed (non-random) names
    * are deliberate — the dir is overwritten per run instead of leaking
    * one temp dir per invocation across repeated gate/bench runs. */
  def dirFor(tag: String, inputPath: String): String = {
    val abs = Paths.get(inputPath).toAbsolutePath.toString
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Paths.get(sys.props("java.io.tmpdir"), s"graft-$tag-$md5").toString
  }

  /** Delete `root` and everything under it, children before parents;
    * a missing `root` is a no-op. */
  def rmTree(root: Path): Unit =
    if (Files.exists(root))
      Using.resource(Files.walk(root))(_.iterator().asScala.toSeq)
        .reverse.foreach(Files.deleteIfExists(_))
}
