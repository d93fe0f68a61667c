package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** Mid-stream schema evolution: the log ramps v1 -> v2 (add stars) ->
  * v3 (rename to stargazers) -> v4 (widen to long) across epochs; every
  * epoch is written at the current schema, groups an earlier engine
  * wrote at an older era still read through their per-group version,
  * and the aligned final state must match the oracle fold.
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val cfg = GenConfig(numEvents = 12000L, numRepos = 30L, pathsPerRepo = 10L,
    schemaRamp = Seq(0.3, 0.6, 0.85))

  test("registry: physical schemas per era") {
    assert(SchemaRegistry.physicalSchema(1).fieldNames.toSeq == Seq("commit", "lang", "content"))
    assert(SchemaRegistry.physicalSchema(2).fieldNames.toSeq ==
      Seq("commit", "lang", "content", "stars"))
    assert(SchemaRegistry.physicalSchema(3).fieldNames.toSeq ==
      Seq("commit", "lang", "content", "stargazers"))
    assert(SchemaRegistry.physicalSchema(2)("stars").dataType.typeName == "integer")
    assert(SchemaRegistry.physicalSchema(4)("stargazers").dataType.typeName == "long")
  }

  test("evolving replay matches oracle; groups at the current schema") {
    val dir = TestSpark.tmpDir("cdc-evolve")
    // epochs aligned with the ramp so early epochs are pure v1
    Pipeline.runBatchEpochs(spark, cfg, s"$dir/t", epochs = 8)
    val table = new LakeTable(s"$dir/t")

    // pure-v1 epochs included: the apply stage writes one schema
    val snap = table.latest().get
    assert(snap.schemaVersion == SchemaRegistry.maxVersion)
    assert(snap.groups.size == 8)
    assert(snap.groups.forall(_.schemaVersion == SchemaRegistry.maxVersion),
      snap.groups.map(_.schemaVersion))

    // logical check: aligned final state equals oracle
    val got = table.read(spark)
    val want = Oracle.fold(spark, ChangeLogGen.events(spark, cfg).drop("delivery"))
    val cols = Seq("repo", "path", "lsn", "commit", "lang", "content", "stargazers")
    assert(got.select(cols.map(col): _*).exceptAll(want.select(cols.map(col): _*)).count() == 0)
    assert(want.select(cols.map(col): _*).exceptAll(got.select(cols.map(col): _*)).count() == 0)

    // v1-era keys never updated again must surface with null stargazers
    assert(got.filter(col("stargazers").isNull).count() > 0)

    // compaction rewrites everything at the current schema and preserves state
    val d0 = Oracle.digest(got, cols)
    table.compact(spark)
    assert(Oracle.digest(table.read(spark), cols) == d0)
    val baseSchema = spark.read.parquet(
      s"${table.root}/${table.latest().get.groups.head.dir}").schema
    assert(baseSchema.fieldNames.contains("stargazers"))
    assert(baseSchema("stargazers").dataType.typeName == "long")
  }

  test("group reads with the manifest's schema equal schema-inferred reads, row for row") {
    import spark.implicits._
    val table = new LakeTable(TestSpark.tmpDir("cdc-group-schema"))
    def env(version: Int, rows: Seq[(String, Long, String)]): DataFrame =
      rows.map { case (op, lsn, after) =>
        (op, lsn, new java.sql.Timestamp(1700000000000L + lsn), version, "r", s"p${lsn % 10}",
          null: String, after)
      }.toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    def apply(epoch: Long, version: Int, rows: Seq[(String, Long, String)]): Unit =
      Apply.applyEpoch(spark, table, env(version, rows), epoch)
    def v1(lsn: Long) = s"""{"commit":"c$lsn","lang":"en","content":"b$lsn"}"""
    // a base group (v1 rows compacted at the current schema); a v1 delta
    // group with a delete, written at its own era as an earlier engine
    // wrote it; a v4 delta group with longs past 2^31; then a v1-labelled
    // epoch after the v4 one, over two of its keys
    apply(0L, 1, (0L until 10L).map(l => ("I", l, v1(l))))
    table.compact(spark)
    table.upsert(Apply.normalize(
      env(1, (10L until 15L).map(l => ("U", l, v1(l))) :+ (("D", 15L, null: String)))), 1L, 1)
    apply(2L, 4, (13L until 18L).map(l =>
      ("U", l + 10L, s"""{"commit":"c$l","lang":"de","content":"v4","stargazers":${5000000000L + l}}""")))
    apply(3L, 1, Seq(("U", 36L, v1(36L)), ("U", 37L, v1(37L))))
    val snap = table.latest().get
    assert(snap.groups.map(g => (g.kind, g.schemaVersion)) ==
      Seq(("base", 4), ("delta", 1), ("delta", 4), ("delta", 4)))

    val inferred = snap.groups.map(g =>
      SchemaRegistry.alignToCurrent(spark.read.parquet(s"${table.root}/${g.dir}")))
    val valueCols = Seq("op", "lsn", "ts", "commit", "lang", "content", "stargazers")
    val inferredState = inferred.reduce(_.unionByName(_))
      .groupBy("repo", "path").agg(max_by(struct(valueCols.map(col): _*), col("lsn")).as("s"))
      .filter(col("s.op") =!= "D")
      .select(col("repo") +: col("path") +: valueCols.tail.map(c => col(s"s.$c").as(c)): _*)
    val inferredChanges = inferred.tail.reduce(_.unionByName(_))
    def sameRows(got: DataFrame, want: DataFrame): Unit = {
      val cols = want.columns.filter(_ != "bucket").toSeq
      assert(got.select(cols.map(col): _*).schema == want.select(cols.map(col): _*).schema)
      def rows(df: DataFrame) = df.select(cols.map(col): _*).orderBy("repo", "path", "lsn").collect().toSeq
      assert(rows(got) == rows(want))
    }
    sameRows(table.read(spark), inferredState)
    sameRows(table.readChanges(spark, snap.version - 3L, snap.version), inferredChanges)
    assert(table.read(spark).filter(col("stargazers") > Int.MaxValue).count() == 3L)
    // the v1-labelled epoch's keys read its payload, with null stargazers
    val late = table.read(spark).filter(col("path").isin("p6", "p7"))
      .select("lsn", "content", "stargazers").orderBy("lsn").collect().toSeq
    assert(late.map(r => (r.getLong(0), r.getString(1), r.isNullAt(2))) ==
      Seq((36L, "b36", true), (37L, "b37", true)))
  }
}
