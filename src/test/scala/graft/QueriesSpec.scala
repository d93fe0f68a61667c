package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every SparkEntry query must run at sf0.001 and return sane output;
  * approximate operators (MinHash-LSH, SimHash, hyperplane ANN) are
  * judged against their exact counterparts (recall), since they have no
  * SQL oracle.
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries run and are non-degenerate") {
    val mayBeEmpty = Set.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows at sf0.001")
    }
  }

  test("sessionize validates the gap at the API boundary, not at analysis") {
    import graft.Graft._
    import spark.implicits._
    val df = Seq(("u1", "2024-01-01 00:00:00"), ("u1", "2024-01-01 02:00:00"))
      .toDF("user_id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val e = intercept[IllegalArgumentException] {
      df.sessionize("user_id", "ts", "30 PARSECS")
    }
    assert(e.getMessage.contains("30 PARSECS"))
    val ok = df.sessionize("user_id", "ts", "30 MINUTES")
      .select("session_id").as[Long].collect().sorted
    assert(ok.toSeq == Seq(1L, 2L))
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("minhash-LSH recall vs exact n-gram Jaccard (>= 0.2 true pairs)") {
    val exact = SparkEntry.queries("q25_ngram_jaccard")(spark, sf)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("q26_dedup_minhash_lsh")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) {
      val recall = exact.intersect(approx).size.toDouble / exact.size
      assert(recall >= 0.8, s"minhash recall $recall over ${exact.size} true pairs")
    }
  }

  test("ANN-LSH recall vs brute-force top-k") {
    val brute = SparkEntry.queries("q28_knn_brute")(spark, sf)
      .filter(col("rk") === 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SparkEntry.queries("q29_ann_lsh")(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ann).size.toDouble / brute.size
    // LSH with 8-bit signatures and multi-probe over random data: expect
    // to find a reasonable share of true 1-NNs while scanning far fewer
    // candidates than brute force
    assert(recall >= 0.3, s"ANN recall@1 $recall")
  }

  test("IVF assignment ties a -0.0 and a 0.0 cosine and takes the smaller cid") {
    val s = spark
    import s.implicits._
    // cos(v, cid 1) = -MinPositiveValue / 3, which rounds to -0.0;
    // cos(v, cid 2) = 0.0 — equal cosines, so min(cid) wins
    val e = Seq((7L, Seq(1.0, 0.0))).toDF("vec_id", "v")
    val centroids = Seq((1L, Seq(-Double.MinPositiveValue, 3.0)), (2L, Seq(0.0, 1.0)))
      .toDF("cid", "cv")
    val cids = graft.operators.SimilarityOps.assignToCentroids(e, centroids)
      .select("cid").as[Long].collect()
    assert(cids.toSeq == Seq(1L))
  }

  test("IVF ANN recall vs brute-force top-1 + real pruning") {
    val brute = SparkEntry.queries("q28_knn_brute")(spark, sf)
      .filter(col("rk") === 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SparkEntry.queries("q52_ann_ivf")(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF recall@1 $recall")
    // pruning is real: probed lists hold a strict minority of vectors
    val (lists, _) = graft.operators.SimilarityOps.ivfIndex(
      spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label")))
    val sizes = lists.groupBy("cid").count().collect().map(_.getLong(1))
    val total = sizes.sum.toDouble
    val probedShare = sizes.sorted.reverse.take(
      graft.operators.SimilarityOps.IvfProbes).sum / total
    assert(probedShare < 0.8, s"probing ${probedShare} of the corpus is not pruning")
    // recompute-equality invariant of the two-pass argmax assignment:
    // a codegen divergence between the passes would DROP vectors from
    // the inverted lists — every corpus vector must be assigned once
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(lists.count() == corpus, "IVF assignment lost vectors")
    assert(lists.select("vec_id").distinct().count() == corpus,
      "IVF assignment duplicated vectors")
  }

  test("simhash near-dups are plausible (hamming bound respected)") {
    val rows = SparkEntry.queries("q27_dedup_simhash")(spark, sf).collect()
    assert(rows.forall(_.getAs[Number]("hamming").longValue <= 6))
  }

  test("recursive low-pass filter matches hand-computed golden values") {
    import graft.functions.IIR
    // lfilter convention (zero initial state, scipy parity):
    // y0 = 0.3*1, y1 = 0.3*2 + 0.7*0.3, y2 = 0.3*3 + 0.7*0.81
    val (b, a) = IIR.exponential(0.3)
    val got = IIR.lfilter(b, a, Seq(1.0, 2.0, 3.0))
    assert(got.map(v => math.round(v * 1000) / 1000.0) == Seq(0.3, 0.81, 1.467))
    assert(IIR.lfilter(b, a, Nil).isEmpty)
    // smoothing bounds: a convex-combination filter with zero initial
    // state stays within the envelope of the inputs and 0
    val xs = Seq(5.0, -2.0, 7.5, 0.0, 3.3)
    val ys = IIR.lfilter(b, a, xs)
    assert(ys.forall(y => y >= math.min(xs.min, 0.0) && y <= math.max(xs.max, 0.0)))
  }

  test("bbox union aggregator is associative/commutative (two-phase safe)") {
    import graft.functions.{BBox, BBoxUnionAggregator}
    val agg = new BBoxUnionAggregator()
    val pts = Seq((1.0, 2.0), (-3.0, 7.0), (4.0, -1.0))
    val whole = pts.foldLeft(agg.zero)(agg.reduce)
    val split = agg.merge(
      pts.take(1).foldLeft(agg.zero)(agg.reduce),
      pts.drop(1).foldLeft(agg.zero)(agg.reduce))
    assert(whole == split && whole == BBox(-3.0, -1.0, 4.0, 7.0))
    assert(agg.merge(agg.zero, whole) == whole)
  }

  test("multimodal feature extraction is deterministic") {
    val a = SparkEntry.queries("q35_multimodal_features")(spark, sf)
      .orderBy("doc_id").collect().toSeq
    val b = SparkEntry.queries("q35_multimodal_features")(spark, sf)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }
}
