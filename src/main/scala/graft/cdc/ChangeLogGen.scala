package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic synthetic repo-change-log generator.
  *
  * Every column is a pure Catalyst expression of `(seed, physical row id)`
  * — no data is ever materialized driver-side, so the same definition
  * scales from 10^4 (tests) to the 10^10 design point: `spark.range(n)`
  * partitions the id space and whole-stage codegen evaluates the hash
  * chain per row. Reference analogue: the reference reads timestamped
  * files as its change feed (SYMPHONIEReader.py:51-78, filename-parsed
  * event time); here the feed is synthesized with the same shape:
  * monotone LSN, event time, keys with heavy skew, duplicates and
  * bounded disorder injected deterministically.
  *
  * Injected realism:
  *  - Zipf-ish repo skew: repoId = floor(R^u), u uniform — hot repos
  *    (the north rule's skew case).
  *  - duplicate redelivery: every `dupEvery`-th delivered row repeats the
  *    previous logical event (identical envelope — at-least-once source).
  *  - bounded out-of-order delivery: delivery position = lsn + jitter in
  *    [-disorderWindow, +disorderWindow]; chunking by delivery position
  *    puts some events in a later epoch than their LSN order.
  *  - schema-version ramp: lsn thresholds flip payloads v1->v2->v3->v4.
  */
final case class GenConfig(
    seed: Long = 42L,
    numEvents: Long = 100000L,
    numRepos: Long = 1000L,
    pathsPerRepo: Long = 50L,
    deletePct: Int = 5, // % of events that are deletes
    insertPct: Int = 25, // % inserts (rest are updates; apply is upsert-tolerant)
    dupEvery: Long = 50L, // every k-th physical row redelivers the previous event
    disorderWindow: Long = 64L,
    padChunks: Int = 8, // content padding size multiplier (~34 bytes/chunk)
    // schemaVersion = 1 + number of thresholds (as fraction of numEvents) passed
    schemaRamp: Seq[Double] = Seq(0.25, 0.5, 0.75),
    // fill the envelope's `before` slot with the key's previous after-image
    // (a row-image-capturing source, Debezium-style). Computed with a
    // per-key window over the GENERATED range, so it is complete only
    // when the log is generated in one window, and meaningful only with
    // dupEvery = 0 (a redelivered twin would otherwise become its own
    // pre-image) and disorderWindow = 0 (Apply.lostUpdateAudit requires
    // an in-order feed — see its scaladoc). Test/audit use; the bench
    // source leaves before null.
    withBeforeImages: Boolean = false
)

object ChangeLogGen {

  /** Physical (delivered) row count incl. duplicate redeliveries. */
  def physicalRows(cfg: GenConfig): Long =
    if (cfg.dupEvery <= 0) cfg.numEvents
    else {
      // logical(e) = j - floor((j+1)/k) is surjective; solve approximately.
      // Clamp k exactly like events() does (dupEvery=1 would otherwise
      // divide by zero here while events() silently used k=2).
      val k = math.max(cfg.dupEvery, 2L)
      val p = cfg.numEvents * k / (k - 1)
      p
    }

  /** The delivered change log as a DataFrame of the ChangeEvent envelope
    * plus a `delivery` position column (used to chunk into epochs /
    * files; drop it before handing to the engine).
    *
    * `idWindow` restricts generation to a physical-row-id range — the
    * generator-side analogue of partition pruning: because disorder is
    * bounded (`delivery = 2*id + jitter`, |jitter| <= disorderWindow), a
    * delivery-position chunk maps to a bounded id window, so an epoch's
    * batch can be produced at O(chunk) instead of O(total log).
    *
    * `typedPayload = true` emits `before`/`after` as TYPED STRUCT
    * columns at the union read schema (every historical field name at
    * its widest type, era-absent fields null) instead of JSON strings —
    * the Avro-with-registry-style binlog whose segments need no parse
    * at apply time (SchemaRegistry.readSchema; Apply.normalize detects
    * the struct and skips from_json entirely). */
  def events(spark: SparkSession, cfg: GenConfig,
      idWindow: Option[(Long, Long)] = None,
      typedPayload: Boolean = false): DataFrame = {
    val k = math.max(cfg.dupEvery, 2L)
    val n = physicalRows(cfg)
    val (lo, hi) = idWindow.map { case (a, b) =>
      (math.max(0L, a), math.min(n, b))
    }.getOrElse((0L, n))
    val df = spark.range(lo, hi, 1, spark.sparkContext.defaultParallelism)

    def h(salt: Long) = xxhash64(lit(cfg.seed), lit(salt), col("lsn"))
    // uniform in [0,1) from a hash
    def u(salt: Long) = (pmod(h(salt), lit(1000000000L)).cast(DoubleType)) / lit(1e9)

    val withLsn = df.withColumn(
      "lsn",
      if (cfg.dupEvery <= 0) col("id")
      else col("id") - floor((col("id") + lit(1L)) / lit(k)))

    val repoId = floor(pow(lit(cfg.numRepos.toDouble), u(1))).cast(LongType)
    val pathId = pmod(h(2), lit(cfg.pathsPerRepo))
    val opRoll = pmod(h(3), lit(100L))
    val op = when(opRoll < lit(cfg.deletePct.toLong), lit("D"))
      .when(opRoll < lit((cfg.deletePct + cfg.insertPct).toLong), lit("I"))
      .otherwise(lit("U"))

    val version = cfg.schemaRamp.zipWithIndex.foldLeft(lit(1)) {
      case (acc, (frac, i)) =>
        when(col("lsn") >= lit((cfg.numEvents * frac).toLong), lit(i + 2)).otherwise(acc)
    }

    val langs = array(Seq("scala", "python", "rust", "go", "java", "c", "sql").map(lit): _*)
    val lang = element_at(langs, (pmod(xxhash64(col("repo"), col("path")), lit(7L)) + lit(1)).cast(IntegerType))

    val commitHex = lower(hex(xxhash64(lit(cfg.seed), lit(7L), col("lsn"))))
    val stars = pmod(h(8), lit(100000L))

    val content = concat(
      lit("// "), col("lang"), lit(" module "), col("repo"), lit("/"), col("path"), lit("\n"),
      lit("def f_"), lower(hex(h(9))), lit("(x: Long): Long = x ^ 0x"), lower(hex(h(10))), lit("L\n"),
      substring(
        repeat(concat(lit("// pad "), lower(hex(h(11))), lit(" qq\n")), cfg.padChunks),
        lit(1),
        // deterministic variable length in [20, 20 + 27*padChunks)
        (lit(20) + pmod(h(12), lit((27L * cfg.padChunks).max(1L))).cast(IntegerType))))

    // per-version JSON payloads (physical names/types of that era)
    val afterV1 = to_json(struct(col("commit"), col("lang"), col("content")))
    val afterV2 = to_json(struct(col("commit"), col("lang"), col("content"),
      col("stars_l").cast(IntegerType).as("stars")))
    val afterV34 = to_json(struct(col("commit"), col("lang"), col("content"),
      col("stars_l").as("stargazers")))
    // (v3 writes int-valued stargazers, v4 long — JSON is identical on the
    // wire for in-range values; the apply stage casts every era's value
    // to the current type, see SchemaRegistry.normalized.)

    // typed variant: ONE struct at the union read schema; era-absent
    // fields are null (parquet stores all-null columns as ~free
    // metadata, so the union schema costs no scan bytes)
    val afterTyped = struct(
      col("commit"), col("lang"), col("content"),
      when(col("schemaVersion") === 2, col("stars_l")).cast(LongType).as("stars"),
      when(col("schemaVersion") >= 3, col("stars_l")).cast(LongType).as("stargazers"))

    withLsn
      .withColumn("repo", concat(lit("org/repo-"), repoId))
      .withColumn("path", concat(
        lit("src/d"), pmod(h(4), lit(10L)), lit("/file_"), pathId, lit(".scala")))
      .withColumn("op", op)
      .withColumn("schemaVersion", version)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("lsn") + pmod(h(5), lit(30L)) - lit(15L)))
      .withColumn("lang", lang)
      .withColumn("commit", commitHex)
      .withColumn("stars_l", stars)
      .withColumn("content", content)
      .withColumn(
        "after",
        if (typedPayload)
          when(col("op") === "D", lit(null)).otherwise(afterTyped)
        else
          when(col("op") === "D", lit(null).cast(StringType))
            .when(col("schemaVersion") === 1, afterV1)
            .when(col("schemaVersion") === 2, afterV2)
            .otherwise(afterV34))
      // by default this synthetic source does not capture row pre-images
      // (common for heartbeat/snapshot-less captures); with
      // withBeforeImages it behaves like a row-image-capturing source:
      // before = the key's previous after-image (null for a key's first
      // event). Deletes' befores carry the content they removed.
      .withColumn(
        "before",
        if (cfg.withBeforeImages)
          lag(col("after"), 1).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("repo"), col("path")).orderBy(col("lsn")))
        else if (typedPayload) lit(null).cast(SchemaRegistry.readSchema)
        else lit(null).cast(StringType))
      .withColumn(
        "delivery", // always on the 2*id scale so epoch-window math is uniform
        if (cfg.disorderWindow <= 0) col("id") * lit(2L)
        else col("id") * lit(2L) + pmod(h(6), lit(2L * cfg.disorderWindow + 1L)) - lit(cfg.disorderWindow))
      .select("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after", "delivery")
  }

}
