package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Builds the 10x documents corpus for the heavy-tail scaling sample
  * (bench/history/BENCH_rounds_1-7.md §Round-6): `factor` replicas of
  * `<srcSf>/documents.parquet` with disjoint doc-id ranges and
  * DISJOINT TOKEN VOCABULARIES — every
  * token `w` of replica `i` becomes `w~i`, so each replica preserves
  * the base corpus's internal near-dup structure exactly (both members
  * of a pair transform identically, Jaccard unchanged) while replicas
  * share no shingles with each other. Duplicate DENSITY therefore stays
  * that of the base corpus and the candidate-pair count scales
  * LINEARLY in corpus size — the representative 10x experiment; naive
  * replication (identical text, new ids) would instead inject 10-way
  * exact-dup cliques and measure a quadratic blowup no real corpus has.
  *
  * usage: runMain graft.ScaleFixture <srcSfDir> <outDir> [factor]
  * (local[SPARK_GRAFT_CPUS], default every core; one output file per core)
  */
object ScaleFixture {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = Bench.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Graft.table(spark, s"$src/documents.parquet")
    val n = docs.count()
    val scaled = (0 until factor).map { i =>
      docs.select(
        (col("doc_id") + lit(i.toLong * n)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1~" + i).as("text"),
        col("lang"), col("source"))
    }.reduce(_ unionByName _)
      // n_chars recomputed — the token rewrite (+2 chars/token) made
      // the source column stale for this corpus
      .withColumn("n_chars", length(col("text")).cast("long"))
    scaled.repartition(cpus).write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"""{"fixture":"$out","docs":${n * factor},"factor":$factor}""")
    spark.stop()
  }
}
