package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Graft._
import graft.functions.IIR

/** Round-2 operators: Butterworth/IIR design golden values, the
  * distributed per-key streaming fold, the fenced exact-Jaccard
  * candidate generation, the bucketed embedding near-dup vs its exact
  * all-pairs oracle, and the q47 fallback metric.
  */
class ToleranceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("butterLowpass(2, 0.25) reproduces the scipy butter coefficients") {
    // scipy.signal.butter(2, 0.25): the classic K = tan(pi/8) case,
    // known closed form: a = [1, -0.9428090416, 1/3],
    // b = K^2/(1+sqrt(2)K+K^2) * [1, 2, 1] = 0.0976310729 * [1, 2, 1]
    val (b, a) = IIR.butterLowpass(2, 0.25)
    val expB = Seq(0.09763107293781749, 0.19526214587563498, 0.09763107293781749)
    val expA = Seq(1.0, -0.9428090415820634, 0.33333333333333337)
    b.zip(expB).foreach { case (x, e) => assert(math.abs(x - e) < 1e-12, s"b: $x vs $e") }
    a.zip(expA).foreach { case (x, e) => assert(math.abs(x - e) < 1e-12, s"a: $x vs $e") }
  }

  test("lfilter matches an independent direct-form-I evaluation") {
    val (b, a) = IIR.butterLowpass(2, 0.25)
    val xs = Seq(1.0, 0.0, 0.0, 0.0, 2.0, -3.0, 0.5, 0.0)
    // direct form I: y[n] = sum b[j] x[n-j] - sum a[j] y[n-j]
    val ys = new Array[Double](xs.length)
    for (n <- xs.indices) {
      var acc = 0.0
      for (j <- b.indices; if n - j >= 0) acc += b(j) * xs(n - j)
      for (j <- 1 until a.length; if n - j >= 0) acc -= a(j) * ys(n - j)
      ys(n) = acc
    }
    val got = IIR.lfilter(b, a, xs)
    got.zip(ys).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
  }

  test("distributed iirFilter equals the sequential lfilter per key") {
    import spark.implicits._
    val (b, a) = IIR.butterLowpass(2, 0.25)
    val rows = for (k <- 1 to 5; i <- 1 to 40)
      yield (k.toLong, i.toLong, math.sin(i * 0.37 + k) * (k + 1))
    val df = rows.toDF("k", "i", "x").repartition(7) // scrambled input
    val got = df.iirFilter("k", Seq("i"), "x", b, a, "y")
      .select("k", "i", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.groupBy(_._1).foreach { case (k, ks) =>
      val ordered = ks.sortBy(_._2)
      val exp = IIR.lfilter(b, a, ordered.map(_._3))
      ordered.zip(exp).foreach { case ((_, i, _), e) =>
        assert(math.abs(got((k, i)) - e) < 1e-12, s"key $k step $i")
      }
    }
  }

  test("jaccard df-cap fences an adversarial corpus and is neutral otherwise") {
    import spark.implicits._
    // adversarial: 60 docs that share ONLY one ubiquitous shingle
    val adv = (1 to 60).map(i =>
      (i.toLong, s"common shared boilerplate unique$i token$i word$i"))
      .toDF("doc_id", "text")
    // uncapped: every pair is a candidate (though jaccard is tiny);
    // capped at df<=10: the ubiquitous shingle is excluded, no pairs
    val capped = adv.ngramJaccardPairs("doc_id", "text", minJaccard = 0.0, maxShingleDf = 10)
    assert(capped.count() == 0)
    val uncapped = adv.ngramJaccardPairs("doc_id", "text", minJaccard = 0.0)
    assert(uncapped.count() == 60L * 59 / 2)
    // neutrality: on the real corpus (max df = 7 at gate scale) a cap of
    // 100 yields the identical pair set
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val a = docs.ngramJaccardPairs("doc_id", "text", minJaccard = 0.2, maxShingleDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = docs.ngramJaccardPairs("doc_id", "text", minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("bucketed q30 equals the exact all-pairs near-dup oracle") {
    val bucketed = SparkEntry.queries("q30_embed_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = graft.operators.SimilarityOps.exactNeardupPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bucketed == exact, s"bucketed ${bucketed.size} vs exact ${exact.size}")
    assert(exact.size == 500) // one injected near-dup per base vector
  }

  test("q47 nearest-with-tolerance reports both matches and fallbacks") {
    val rows = SparkEntry.queries("q47_interp_nearest")(spark, sf)
      .groupBy(col("matched")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.getOrElse(1, 0L) > 0, "no matched probes")
    assert(rows.getOrElse(0, 0L) > 0, "no out-of-tolerance fallbacks — metric untested")
    // fallback rows carry null values (match-or-null semantics)
    val fb = SparkEntry.queries("q47_interp_nearest")(spark, sf)
      .filter(col("matched") === 0).limit(5).collect()
    assert(fb.forall(_.isNullAt(2)))
  }

  test("q47 matches a NULL-valued event in tolerance: matched = 1, near_value NULL") {
    val s = spark
    import s.implicits._
    val dir = TestSpark.tmpDir("graft-q47-null")
    def at(t: String) = java.time.LocalDateTime.parse(s"2024-01-02T$t")
    Seq((1L, at("00:30:00"), 1L, None), (2L, at("06:00:00"), 1L, Some(5.0)))
      .toDF("event_id", "ts", "user_id", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q47_interp_nearest")(spark, dir).collect()
      .map(r => r.getAs[java.time.LocalDateTime]("probe_ts") ->
        (Option(r.getAs[java.lang.Double]("near_value")).map(_.doubleValue),
          r.getAs[Int]("matched"))).toMap
    assert(got(at("00:00:00")) == ((None, 1)), "NULL-valued nearest event is still a match")
    assert(got(at("06:00:00")) == ((Some(5.0), 1)))
    assert(got(at("12:00:00")) == ((None, 0)))
  }

  test("q51 affine raster map round-trips exactly (coord -> index -> coord)") {
    val rows = SparkEntry.queries("q51_affine_grid")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(5), s"px round trip: $r")
      assert(r.getLong(2) == r.getLong(6), s"py round trip: $r")
      // pixel-center semantics: coord sits strictly inside the pixel
      assert(r.getDouble(3) == -180.0 + 0.25 * r.getLong(1) + 0.125)
    }
  }

  test("q48 fused argmin retains every query point exactly once") {
    // every customer must survive the tagged-union product aggregation
    // with exactly one row — a malformed tag condition or an axis with
    // no rows would DROP customers (never shift them) — pin the invariant
    val sf = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q48_quick_nn")(spark, sf)
    val customers = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(out.count() == customers, "argmin re-probe dropped query points")
    assert(out.select("c_custkey").distinct().count() == customers)
  }

  test("q45 banded level match equals a driver-side tolerance recomputation") {
    val got = SparkEntry.queries("q45_level_match")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    val keys = spark.read.parquet(s"$sf/part.parquet")
      .select("p_partkey").collect().map(_.getLong(0))
    val levels = keys.map(k => (k % 40, k / 40, (k / 40).toDouble + (k % 40 + 1) * 0.013))
    val depths = Seq(5.25, 17.6, 33.8, 49.9, 60.0)
    var nonEmptyProbes = 0
    for (c <- levels.map(_._1).distinct; d <- depths) {
      val cand = levels.filter(l => l._1 == c && math.abs(l._3 - d) <= 1.0)
      val nearest = if (cand.isEmpty) None else Some(cand.minBy(l => math.abs(l._3 - d))._2)
      if (cand.nonEmpty) nonEmptyProbes += 1
      assert(got((c, d)) == ((cand.length.toLong, nearest)), s"cell $c depth $d")
    }
    assert(nonEmptyProbes > 0) // the banding actually matched something
    assert(got.size == levels.map(_._1).distinct.length * depths.size) // 0-cand probes kept
  }

  test("bandedToleranceJoin enforces the non-key column-disjointness contract") {
    import spark.implicits._
    val l = Seq((1L, 10.0, "a"), (2L, 50.0, "z")).toDF("k", "x", "tag")
    val r = Seq((1L, 10.5, "b")).toDF("k", "y", "tag") // `tag` collides
    Seq("inner", "left").foreach { jt =>
      val e = intercept[IllegalArgumentException] {
        l.bandedToleranceJoin(r, Seq("k"), "x", "y", 1.0, jt)
      }
      assert(e.getMessage.contains("tag"), s"message should name the clash: ${e.getMessage}")
      // disjoint sides still work; LEFT keeps every left row, with the
      // band rows that matched nothing null-extended
      val ok = l.bandedToleranceJoin(r.withColumnRenamed("tag", "rtag"),
        Seq("k"), "x", "y", 1.0, jt)
      val matched = ok.filter(col("rtag").isNotNull).select("tag", "rtag").collect()
        .map(x => (x.getString(0), x.getString(1))).toSeq
      assert(matched == Seq(("a", "b")), s"$jt")
      val tags = ok.select("tag").distinct().collect().map(_.getString(0)).toSet
      assert(tags == (if (jt == "left") Set("a", "z") else Set("a")), s"$jt")
    }
    val r2 = r.withColumnRenamed("tag", "rtag")
    val e = intercept[IllegalArgumentException] {
      l.bandedToleranceJoin(r2, Seq("k"), "x", "y", 1.0, "right")
    }
    assert(e.getMessage.contains("joinType"), e.getMessage)
    // operands without one numeric bin type are rejected, not mis-binned
    for (y <- Seq(col("y").cast("decimal(10,2)"), col("y").cast("float")))
      intercept[IllegalArgumentException] {
        l.bandedToleranceJoin(r2.withColumn("y", y), Seq("k"), "x", "y", 1.0)
      }
  }

  test("bandedToleranceJoin bins longs beyond 2^53 exactly (no double-cast row loss)") {
    import spark.implicits._
    // adjacent doubles near 2^60 are 256 apart: a double bin moves longs
    // within the tolerance of each other into bins far apart
    val base = 1L << 60
    val rnd = new scala.util.Random(53L)
    def side(x: String, y: String) = Seq.fill(2000)((rnd.nextInt(4).toLong,
      base + rnd.nextInt(4000), rnd.nextInt(1000))).toDF("k", x, y)
    val l = side("lx", "lp")
    val r = side("rx", "rp")
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("k", "lx", "rx", "lp", "rp")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getInt(3), x.getInt(4)))
      .sorted.toSeq
    val exact = rows(l.join(r, Seq("k")).filter(abs(col("rx") - col("lx")) <= 3))
    val banded = rows(l.bandedToleranceJoin(r, Seq("k"), "lx", "rx", 3.0))
    assert(exact.size > 1000)
    val same = banded == exact // a Boolean, so a failure prints the counts only
    assert(same, s"banded ${banded.size} vs exact ${exact.size}")
  }
}
