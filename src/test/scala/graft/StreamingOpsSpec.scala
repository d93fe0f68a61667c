package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps
import graft.operators.ExtraOps

/** Streaming semantics (SURVEY.md §2.10): watermarked dedup, windowed
  * aggregation, and flatMapGroupsWithState keyed state — each driven
  * over a MULTI-micro-batch bounded stream and compared to the batch
  * equivalent.
  */
class StreamingOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** events table split into 4 parquet files so maxFilesPerTrigger=1
    * yields 4 micro-batches. */
  lazy val chunkedEvents: String = {
    val dir = TestSpark.tmpDir("stream-ev")
    spark.read.parquet(s"$sf/events.parquet").repartition(4)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming windowed agg over 4 micro-batches == batch agg") {
    val got = StreamingOps.runToBatch(
      spark, chunkedEvents, ExtraOps.eventsSchema,
      df => StreamingOps.windowedAgg(df, "ts", "1 hour"),
      outputMode = "complete")
    val want = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp").as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("watermarked dedup drops duplicate redeliveries across micro-batches") {
    // duplicate the whole table into a second set of files
    val dir = TestSpark.tmpDir("stream-dup")
    val ev = spark.read.parquet(s"$sf/events.parquet")
    ev.repartition(2).write.mode("overwrite").parquet(dir)
    ev.repartition(2).write.mode("append").parquet(dir)
    val got = StreamingOps.runToBatch(
      spark, dir, ExtraOps.eventsSchema,
      // watermark wider than the table's one-month span: chunks arrive in
      // arbitrary time order, and this test exercises the dedup state,
      // not late-event eviction
      df => StreamingOps.dedupWithWatermark(df, "ts", Seq("event_id"), watermark = "60 days"),
      outputMode = "append", maxFilesPerTrigger = 2)
    assert(got.count() == ev.count(),
      s"dedup should collapse the doubled stream: ${got.count()} vs ${ev.count()}")
  }

  test("flatMapGroupsWithState running totals converge to batch totals") {
    import spark.implicits._
    val got = StreamingOps.runToBatch(
      spark, chunkedEvents, ExtraOps.eventsSchema,
      df => StreamingOps.runningUserTotals(
        df.select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
          .as[StreamingOps.Ev]).toDF(),
      outputMode = "update")
    // memory sink in update mode appends one row per key per batch;
    // the LAST emission per key must equal the batch totals
    val latest = got.groupBy(col("user_id"))
      .agg(max_by(struct(col("n"), col("total")), col("n")).as("s"))
      .select(col("user_id"), col("s.n").as("n"), round(col("s.total"), 6).as("total"))
    val want = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("total"))
    assert(latest.exceptAll(want).count() == 0 && want.exceptAll(latest).count() == 0)
  }

  test("a single-file source is staged and reclaimed: result == batch agg, no scratch left") {
    def scratch(): Set[String] = {
      val ls = java.nio.file.Files.list(Scratch.base)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("graft-stream-")).toSet
      } finally ls.close()
    }
    val before = scratch()
    // events.parquet is one file: runToBatch must stage it into a dir
    val got = StreamingOps.runToBatch(
      spark, s"$sf/events.parquet", ExtraOps.eventsSchema,
      df => StreamingOps.windowedAgg(df, "ts", "1 hour"),
      outputMode = "complete")
    val want = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp").as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    val leaked = scratch() -- before
    assert(leaked.isEmpty, s"runToBatch left scratch behind: $leaked")
  }
}
