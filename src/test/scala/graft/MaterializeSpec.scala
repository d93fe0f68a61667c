package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Cluster-safety of candidate-generation materialization (round-2
  * verdict #1): corpus-sized intermediates (shingles, signatures, IVF
  * lists) must NOT be localCheckpoint'd — localCheckpoint pins blocks to
  * executors with no fault tolerance, so at 100 TB one lost executor
  * kills the query. The default mode is persist(DISK_ONLY), which keeps
  * lineage (recompute-on-loss) and spills off-heap.
  *
  * Plan-level assertion: localCheckpoint materializes as a LogicalRDD
  * leaf (lineage GONE — unrecoverable), persist as an InMemoryRelation
  * (lineage retained in the cache builder). The one sanctioned
  * LogicalRDD is q52's K-row IVF centroid table.
  */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def rddLeaves(df: org.apache.spark.sql.DataFrame): Seq[LogicalRDD] =
    df.queryExecution.optimizedPlan.collect { case r: LogicalRDD => r }

  private def cachedLevels(df: org.apache.spark.sql.DataFrame): Seq[StorageLevel] =
    df.queryExecution.optimizedPlan.collect {
      case m: InMemoryRelation => m.cacheBuilder.storageLevel
    }

  test("dedup/similarity candidate paths persist DISK_ONLY, never localCheckpoint") {
    for (
      (name, q) <- Seq(
        "q25_ngram_jaccard" -> graft.operators.DedupOps.all("q25_ngram_jaccard"),
        "q26_dedup_minhash_lsh" -> graft.operators.DedupOps.all("q26_dedup_minhash_lsh"),
        "q27_dedup_simhash" -> graft.operators.DedupOps.all("q27_dedup_simhash"),
        "q29_ann_lsh" -> graft.operators.SimilarityOps.all("q29_ann_lsh"),
        "q30_embed_neardup" -> graft.operators.SimilarityOps.all("q30_embed_neardup"))
    ) {
      val df = q(spark, sf)
      assert(rddLeaves(df).isEmpty,
        s"$name: lineage-cut RDD leaf on the candidate path (localCheckpoint?)")
      val levels = cachedLevels(df)
      assert(levels.nonEmpty, s"$name: expected a persisted intermediate")
      assert(levels.forall(_ == StorageLevel.DISK_ONLY),
        s"$name: intermediates must persist DISK_ONLY, got $levels")
    }
    spark.catalog.clearCache()
  }

  test("q52 IVF: lists persist DISK_ONLY; only the K-row centroid is lineage-cut") {
    val df = graft.operators.SimilarityOps.all("q52_ann_ivf")(spark, sf)
    val leaves = rddLeaves(df)
    // the centroid table appears in several plan branches but is ONE
    // checkpointed RDD: every leaf must be that K-row table
    assert(leaves.map(_.rdd.id).distinct.size <= 1,
      s"q52: more than one lineage-cut RDD: ${leaves.map(_.rdd.id)}")
    assert(cachedLevels(df).forall(_ == StorageLevel.DISK_ONLY))
    assert(df.count() > 0)
    spark.catalog.clearCache()
  }
}
