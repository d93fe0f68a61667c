package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** Property-style tests (SURVEY.md §5.4): across randomized generator
  * configs (seeded, reproducible), distributed apply ≡ oracle fold; the
  * epoch count, disorder window, duplicate rate and salting never change
  * the result (LWW fold is associative/commutative after dedup). Plain
  * seeded randomization rather than ScalaCheck so the offline build
  * needs no extra bridge artifact; failures print the exact config.
  */
class CdcPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val cols = Seq("repo", "path", "lsn", "commit", "lang", "content", "stargazers")

  test("bandedToleranceJoin ≡ naive range join across randomized inputs") {
    import spark.implicits._
    import graft.Graft._
    val rnd = new scala.util.Random(20260817L)
    (1 to 6).foreach { i =>
      val delta = Seq(0.5, 1.0, 7.3)(rnd.nextInt(3))
      val nKeys = 1 + rnd.nextInt(10)
      def table(n: Int, xCol: String, extra: Boolean) = {
        val rows = (1 to n).map { _ =>
          // mix of signs, bin-boundary multiples of delta, and noise
          val x = (rnd.nextInt(41) - 20) * delta / 2.0 + (if (rnd.nextBoolean()) 0.0 else rnd.nextDouble())
          (rnd.nextInt(nKeys).toLong, x, rnd.nextInt(100).toLong)
        }
        val df = rows.toDF("k", xCol, s"${xCol}_payload")
        if (extra) df else df.drop(s"${xCol}_payload")
      }
      val left = table(120, "lx", extra = false)
      val right = table(300, "rx", extra = true)
      val banded = left.bandedToleranceJoin(right, Seq("k"), "lx", "rx", delta)
        .select("k", "lx", "rx", "rx_payload").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
      val naive = left.join(right, Seq("k"))
        .filter(abs(col("rx") - col("lx")) <= lit(delta))
        .select("k", "lx", "rx", "rx_payload").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
      assert(banded == naive, s"case $i delta=$delta nKeys=$nKeys: " +
        s"banded ${banded.size} vs naive ${naive.size}")
    }
  }

  test("apply ≡ oracle fold for randomized configs / epoch counts / salting") {
    val rnd = new scala.util.Random(20260816L)
    (1 to 8).foreach { i =>
      val cfg = GenConfig(
        seed = rnd.nextInt(1000000).toLong,
        numEvents = 500L + rnd.nextInt(3500),
        numRepos = 3L + rnd.nextInt(57),
        pathsPerRepo = 1L + rnd.nextInt(11),
        dupEvery = Seq(0L, 3L, 17L)(rnd.nextInt(3)),
        disorderWindow = Seq(0L, 8L, 200L)(rnd.nextInt(3)),
        schemaRamp = if (rnd.nextBoolean()) Seq(0.25, 0.5, 0.75) else Seq(0.9))
      val epochs = 1 + rnd.nextInt(5)
      val salted = rnd.nextBoolean()
      val dir = TestSpark.tmpDir("cdc-prop")
      // threshold 0: every epoch after the first takes the salted reduce
      val ctl = if (salted) Some(new AdaptiveSalt(0.0)) else None
      Pipeline.runBatchEpochs(spark, cfg, s"$dir/t", epochs, adaptive = ctl)
      assert(ctl.forall(_.engaged), s"case $i: the salting controller must engage")
      val got = new LakeTable(s"$dir/t").read(spark).select(cols.map(col): _*)
      val want = Oracle.fold(spark, ChangeLogGen.events(spark, cfg).drop("delivery"))
        .select(cols.map(col): _*)
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        s"case $i mismatch for $cfg epochs=$epochs salted=$salted")
    }
  }
}
