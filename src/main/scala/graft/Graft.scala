package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public API of the engine — the operators a user of the reference
  * library would reach for, re-expressed Spark-first. Each is the one
  * implementation of its idea: the gated queries and the CDC apply
  * (graft.cdc.Apply, LakeTable) build through these same operators.
  * Everything is Column algebra / single-shuffle DataFrame plans;
  * nothing collects to the driver. The CDC engine's entry points are
  * graft.cdc.Apply, Pipeline and LakeTable themselves.
  *
  * {{{
  * import graft.Graft._
  * events.lastWriterWins(Seq("repo", "path"), col("lsn"))
  * orders.asofJoinLatest(quotes, "sym", "o_ts", "q_ts", "px")
  * docs.minhashCandidatePairs("doc_id", "text", k = 16, bands = 4)
  * }}}
  */
object Graft {

  /** `spark.read.parquet(path)` for a file or a flat directory of part
    * files, under its footer's schema ([[graft.cdc.ParquetStats.schema]]):
    * same files, schema and rows, but opening it starts no Spark job. */
  def table(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(graft.cdc.ParquetStats.schema(spark, path).getOrElse(
      throw new java.io.FileNotFoundException(s"no parquet data file at $path")))
      .parquet(path)

  /** Scale-adaptive scan fan-out (guide §2.2/§2.5): CPU-dense per-row
    * stages (tokenize + hash families, regex scans, codec decodes)
    * inherit the SCAN's partitioning, and a small input (fewer splits
    * than cores) would run them almost serially. Repartition up to
    * `defaultParallelism` ONLY when the input has fewer partitions —
    * a no-op at any real scale (a 100-TB input always has more splits
    * than cores), so the shuffle this adds is bounded by the small-input
    * case where it is cheap by construction. With `keys`, hash-
    * partitions on them so a downstream groupBy on the same keys reuses
    * the exchange (guide §2.4); the explicit partition count keeps AQE
    * from coalescing the CPU-bound stage back down by its (tiny) byte
    * size. */
  private[graft] def fanOut(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else if (keys.isEmpty) df.repartition(target)
    else df.repartition(target, keys: _*)
  }

  /** SimHash signature width: 60 = 15 hex chars of md5, the widest
    * hash both engines turn into the SAME integer (DuckDB
    * CAST('0x…' AS BIGINT), Spark conv(…, 16, 10)). */
  val SimhashBits = 60

  // ---- DataFrame operators ------------------------------------------

  implicit class GraftOps(private val df: DataFrame) {

    /** The union+window operators stage internal columns on the left
      * frame; a user column with one of those names would be silently
      * overwritten and returned corrupted (withColumn REPLACES). */
    private def requireFreeNames(op: String, names: String*): Unit = {
      val clash = df.columns.toSet & names.toSet
      require(clash.isEmpty,
        s"$op reserves internal column names; rename before calling: " +
          clash.toSeq.sorted.mkString(", "))
    }

    /** One row per key: the row with the greatest `orderCol` wins,
      * its columns in input order after the keys. The engine's one
      * last-writer-wins reduce — the CDC apply's per-epoch reduce (both
      * stages of its salted form) and the lake table's merge-on-read
      * reconstruction build through it. A single `max_by` aggregate:
      * map-side partial aggregation collapses hot keys before the
      * shuffle. With a string value column (every CDC use) it plans
      * as Sort -> SortAggregate, not a hash aggregate: `max_by`'s
      * struct buffer then holds strings, which HashAggregateExec
      * cannot hold. */
    def lastWriterWins(keyCols: Seq[String], orderCol: Column): DataFrame = {
      val valueCols = df.columns.filterNot(keyCols.contains).toSeq
      df.groupBy(keyCols.map(col): _*)
        .agg(max_by(struct(valueCols.map(col): _*), orderCol).as("_s"))
        .select(keyCols.map(col) ++ valueCols.map(c => col(s"_s.$c").as(c)): _*)
    }

    /** As-of join: for each left row, the latest `right` row with the
      * same key and rightTs <= leftTs. Single shuffle (union + ordered
      * window), NO range product — the scale path for as-of joins.
      * Output: left columns + `asofValueCol` (null when no match;
      * ties on rightTs break by `rightTie` descending). */
    def asofJoinLatest(right: DataFrame, keyCol: String, leftTs: String,
        rightTs: String, rightValue: String,
        rightTie: Option[String] = None): DataFrame = {
      requireFreeNames("asofJoinLatest",
        "_k", "_t", "_v", "_tie", "_side", "_asof", s"asof_$rightValue")
      val leftCols = df.columns.toSeq
      val l = df.withColumn("_k", col(keyCol)).withColumn("_t", col(leftTs))
        .withColumn("_v", lit(null).cast(right.schema(rightValue).dataType))
        .withColumn("_tie", lit(Long.MaxValue))
        .withColumn("_side", lit(1))
      val r = right.select(
        col(keyCol).as("_k"), col(rightTs).as("_t"),
        col(rightValue).as("_v"),
        rightTie.map(c => col(c).cast("long")).getOrElse(lit(0L)).as("_tie"),
        lit(0).as("_side"))
      val rPadded = leftCols.foldLeft(r)((acc, c) =>
        if (acc.columns.contains(c)) acc else acc.withColumn(c, lit(null).cast(df.schema(c).dataType)))
      val w = Window.partitionBy(col("_k"))
        .orderBy(col("_t"), col("_side"), col("_tie"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      l.unionByName(rPadded, allowMissingColumns = true)
        .withColumn("_asof", last(col("_v"), ignoreNulls = true).over(w))
        .filter(col("_side") === 1)
        .select(leftCols.map(col) :+ col("_asof").as(s"asof_$rightValue"): _*)
    }

    /** Per-key LINEAR interpolation of `rightValue` AT each left row's
      * probe time — the reference's main resample menu item
      * (InterpolatorCore.py:87-130 method="linear" evaluated at the
      * fixed target axis of TimeCoverage.py:94-97): for every left
      * (probe) row, find the bracketing right rows (prev = latest
      * rightTs at-or-before leftTs, next = earliest rightTs strictly
      * after) and interpolate linearly between them; null outside the
      * brackets (probe before the first / after the last event), exact
      * value on an exact timestamp hit.
      *
      * Scale path: ONE shuffle — union both sides, one ordered window
      * per direction (the asofJoinLatest shape run both ways); never a
      * per-probe range join. `right` must be unique per (key, rightTs)
      * (pre-reduce duplicates first). Output: left
      * columns + `interp_<rightValue>` (double). */
    def interpolateLinearAt(right: DataFrame, keyCol: String, leftTs: String,
        rightTs: String, rightValue: String): DataFrame = {
      requireFreeNames("interpolateLinearAt",
        "_k", "_t", "_v", "_side", "_pv", "_pt", "_nv", "_nt", s"interp_$rightValue")
      val leftCols = df.columns.toSeq
      def us(c: Column) = unix_micros(c.cast("timestamp")).cast("double")
      val l = df.withColumn("_k", col(keyCol))
        .withColumn("_t", col(leftTs).cast("timestamp"))
        .withColumn("_v", lit(null).cast("double"))
        .withColumn("_side", lit(1))
      val r = right.select(
        col(keyCol).as("_k"), col(rightTs).cast("timestamp").as("_t"),
        col(rightValue).cast("double").as("_v"), lit(0).as("_side"))
      val rPadded = leftCols.foldLeft(r)((acc, c) =>
        if (acc.columns.contains(c)) acc
        else acc.withColumn(c, lit(null).cast(df.schema(c).dataType)))
      // events sort BEFORE probes at equal time (side 0 < 1): an exact
      // hit lands in the prev bracket, and `next` is strictly later
      val wPrev = Window.partitionBy(col("_k")).orderBy(col("_t"), col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("_k")).orderBy(col("_t"), col("_side"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val evT = when(col("_side") === 0, col("_t"))
      l.unionByName(rPadded, allowMissingColumns = true)
        .withColumn("_pv", last(col("_v"), ignoreNulls = true).over(wPrev))
        .withColumn("_pt", last(evT, ignoreNulls = true).over(wPrev))
        .withColumn("_nv", first(col("_v"), ignoreNulls = true).over(wNext))
        .withColumn("_nt", first(evT, ignoreNulls = true).over(wNext))
        .filter(col("_side") === 1)
        .withColumn(s"interp_$rightValue",
          when(us(col("_t")) === us(col("_pt")), col("_pv"))
            .otherwise(col("_pv") + (col("_nv") - col("_pv")) *
              (us(col("_t")) - us(col("_pt"))) / (us(col("_nt")) - us(col("_pt")))))
        .select(leftCols.map(col) :+ col(s"interp_$rightValue"): _*)
    }

    /** Per-key CUBIC interpolation of `rightValue` AT each left row's
      * probe time — the last item of the reference's interpolation menu
      * (InterpolatorCore.py:60-64, interp1d kind="cubic"), re-expressed
      * as a LOCAL cubic: a Hermite segment through the bracketing events
      * with three-point finite-difference tangents (the non-uniform
      * Catmull-Rom form). scipy's global not-a-knot spline needs a
      * tridiagonal solve over the whole per-key series — state that
      * cannot stream and a per-key O(n) memory hot spot at scale; the
      * local form uses exactly 4 control points per probe, matches the
      * spline away from boundaries to O(h^3), and is SQL-expressible, so
      * the gate is exact.
      *
      * Scale path: the 4 segment control points (prev, self, next,
      * next2) are attached to each EVENT row by one lag/lead window —
      * then one union + ONE carry window hands each probe its segment
      * struct; two shuffles total on the key, never a per-probe range
      * join. `right` must be unique per (key, rightTs). Outside the
      * event span the result is null; an exact timestamp hit returns the
      * event value. TANGENT CONVENTION at duplicate-free boundaries: a
      * segment missing its outer neighbor (the series' first/last
      * segment — so ALL segments of a 2- or 3-event series) uses the
      * ONE-SIDED difference (y1-y0)/h for that end's tangent; when both
      * tangents are one-sided (a 2-event series) the Hermite reduces
      * exactly to LINEAR interpolation between the bracketing events.
      * Output: left columns + `interp_<rightValue>` (double). */
    def interpolateCubicAt(right: DataFrame, keyCol: String, leftTs: String,
        rightTs: String, rightValue: String): DataFrame = {
      requireFreeNames("interpolateCubicAt",
        "_k", "_t", "_seg", "_side", "_sg", s"interp_$rightValue")
      val leftCols = df.columns.toSeq
      def us(c: Column) = unix_micros(c.cast("timestamp")).cast("double")
      val wEv = Window.partitionBy(col("_k")).orderBy(col("_t"))
      val ev = right.select(
        col(keyCol).as("_k"), col(rightTs).cast("timestamp").as("_t"),
        col(rightValue).cast("double").as("_v"))
        .select(col("_k"), col("_t"),
          struct(
            col("_t").as("t0"), col("_v").as("y0"),
            lag(col("_t"), 1).over(wEv).as("pmt"), lag(col("_v"), 1).over(wEv).as("pmv"),
            lead(col("_t"), 1).over(wEv).as("n1t"), lead(col("_v"), 1).over(wEv).as("n1v"),
            lead(col("_t"), 2).over(wEv).as("n2t"), lead(col("_v"), 2).over(wEv).as("n2v"))
            .as("_seg"),
          lit(0).as("_side"))
      val l = df.withColumn("_k", col(keyCol))
        .withColumn("_t", col(leftTs).cast("timestamp"))
        .withColumn("_seg", lit(null).cast(ev.schema("_seg").dataType))
        .withColumn("_side", lit(1))
      val rPadded = leftCols.foldLeft(ev)((acc, c) =>
        if (acc.columns.contains(c)) acc
        else acc.withColumn(c, lit(null).cast(df.schema(c).dataType)))
      // events sort BEFORE probes at equal time: an exact hit carries
      // its own segment (and returns y0 exactly)
      val wPrev = Window.partitionBy(col("_k")).orderBy(col("_t"), col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def f(n: String) = col(s"_sg.$n")
      val h = us(f("n1t")) - us(f("t0"))
      val s = (us(col("_t")) - us(f("t0"))) / h
      val s2 = s * s
      val s3 = s * s * s
      val oneSided = (f("n1v") - f("y0")) / h
      val m0 = when(f("pmt").isNotNull,
        (f("n1v") - f("pmv")) / (us(f("n1t")) - us(f("pmt")))).otherwise(oneSided)
      val m1 = when(f("n2t").isNotNull,
        (f("n2v") - f("y0")) / (us(f("n2t")) - us(f("t0")))).otherwise(oneSided)
      val hermite = (lit(2) * s3 - lit(3) * s2 + lit(1)) * f("y0") +
        (s3 - lit(2) * s2 + s) * h * m0 +
        (lit(-2) * s3 + lit(3) * s2) * f("n1v") +
        (s3 - s2) * h * m1
      l.unionByName(rPadded, allowMissingColumns = true)
        .withColumn("_sg", last(col("_seg"), ignoreNulls = true).over(wPrev))
        .filter(col("_side") === 1)
        .withColumn(s"interp_$rightValue",
          when(col("_sg").isNull, lit(null).cast("double"))
            .when(us(col("_t")) === us(f("t0")), f("y0"))
            .when(f("n1t").isNull, lit(null).cast("double"))
            .otherwise(hermite))
        .select(leftCols.map(col) :+ col(s"interp_$rightValue"): _*)
    }

    /** Sessionize: a gap longer than `gap` starts a new session;
      * returns the input plus a per-key `session_id`. The gap string is
      * validated HERE (API boundary), not at plan analysis: a malformed
      * interval fails fast with the offending value named. */
    def sessionize(keyCol: String, tsCol: String, gap: String): DataFrame = {
      require(
        org.apache.spark.sql.catalyst.util.IntervalUtils.safeStringToInterval(
          org.apache.spark.unsafe.types.UTF8String.fromString(gap)) != null,
        s"sessionize gap '$gap' is not a valid interval (want e.g. '30 MINUTES')")
      val byKey = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
      val cum = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn("_prev", lag(col(tsCol), 1).over(byKey))
        .withColumn("_new",
          when(col("_prev").isNull || col(tsCol) > col("_prev") + expr(s"INTERVAL $gap"), 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("_new")).over(cum))
        .drop("_prev", "_new")
    }

    /** Per-key linear interpolation of `valueCol` at each row's time
      * from its ordered neighbors (InterpolatorCore.py:87-130 as
      * lag/lead Column arithmetic). Adds `interp_<valueCol>`. */
    def interpolateLinear(keyCol: String, tsCol: String, valueCol: String): DataFrame = {
      val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
      def us(c: Column) = unix_micros(c.cast("timestamp")).cast("double")
      df.withColumn("_pv", lag(col(valueCol), 1).over(w))
        .withColumn("_nv", lead(col(valueCol), 1).over(w))
        .withColumn("_pt", lag(col(tsCol), 1).over(w))
        .withColumn("_nt", lead(col(tsCol), 1).over(w))
        .withColumn(s"interp_$valueCol",
          col("_pv") + (col("_nv") - col("_pv")) *
            (us(col(tsCol)) - us(col("_pt"))) / (us(col("_nt")) - us(col("_pt"))))
        .drop("_pv", "_nv", "_pt", "_nt")
    }

    /** Per-key order-N IIR filter (scipy lfilter semantics, zero
      * initial state): y determined by the (b, a) coefficient vectors —
      * the generalization of the reference's Butterworth low-pass
      * (point/utils/filters.py:18-27). Scale path: repartition by key +
      * sortWithinPartitions + one streaming fold per partition — state
      * is O(filter order) per key, NEVER the whole per-key series in
      * memory (a hot key cannot OOM a task). Appends `outCol`.
      *
      * Null `valueCol` rows pass through with a null `outCol` and do
      * NOT advance the filter state (they are not samples) — matching
      * the engine's null-tolerant Column operators rather than failing
      * mid-task. */
    def iirFilter(keyCol: String, orderCols: Seq[String], valueCol: String,
        b: Array[Double], a: Array[Double], outCol: String = "filtered"): DataFrame = {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
      val outSchema = StructType(df.schema.fields :+ StructField(outCol, DoubleType))
      val ki = df.schema.fieldIndex(keyCol)
      val vi = df.schema.fieldIndex(valueCol)
      df.repartition(col(keyCol))
        .sortWithinPartitions((keyCol +: orderCols).map(col): _*)
        .mapPartitions { it =>
          var curKey: Any = null
          var state: Array[Double] = null
          it.map { r =>
            val k = r.get(ki)
            if (state == null || !java.util.Objects.equals(k, curKey)) {
              curKey = k
              state = graft.functions.IIR.newState(b, a)
            }
            if (r.isNullAt(vi)) Row.fromSeq(r.toSeq :+ null)
            else Row.fromSeq(r.toSeq :+ graft.functions.IIR.step(b, a, state, r.getDouble(vi)))
          }
        }(Encoders.row(outSchema))
    }

    /** Banded tolerance (range) join: rows of `right` whose `rightX` is
      * within ±`delta` of this frame's `leftX`, under equal `keyCols` —
      * the [[graft.plans.Band]] join built from columns (q68 gets the
      * same join from `BandedRangeJoinRule`). `leftX` and `rightX` share
      * one non-decimal numeric type; other column names must be disjoint
      * across the sides. Output: the keys once, this frame's other
      * columns, then `right`'s. `joinType` is "inner" (q18) or "left"
      * (q45, q47). LEFT contract: each left row appears at least once,
      * and every row of its band that matched nothing comes out
      * null-extended — aggregate per left row with null-skipping
      * conditional aggregates like `count(when(cond, 1))`. */
    def bandedToleranceJoin(right: DataFrame, keyCols: Seq[String],
        leftX: String, rightX: String, delta: Double,
        joinType: String = "inner"): DataFrame = {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.EqualTo
      import org.apache.spark.sql.graft.Bridge.toColumn
      import org.apache.spark.sql.types.NumericType
      import graft.plans.Band
      require(joinType == "inner" || joinType == "left",
        s"bandedToleranceJoin: joinType must be inner or left, got $joinType")
      require(!(df.columns ++ right.columns).contains(Band.BinCol),
        s"bandedToleranceJoin reserves the column name ${Band.BinCol}")
      val shared = (df.columns.toSet & right.columns.toSet) -- keyCols
      require(shared.isEmpty, "bandedToleranceJoin: columns other than the join keys must " +
        s"be disjoint across the two sides (rename before joining); shared: ${shared.toSeq.sorted.mkString(", ")}")
      val (t, rt) = (df.schema(leftX).dataType, right.schema(rightX).dataType)
      val bin = Band.binFn(t, delta).filter(_ => rt == t && t.isInstanceOf[NumericType])
        .getOrElse(throw new IllegalArgumentException(
          s"bandedToleranceJoin cannot bin $leftX: $t with $rightX: $rt"))
      def at(parts: String*) = UnresolvedAttribute(parts)
      // qualified sides: equal key names, even of one lineage (q45), resolve per side
      val l = df.withColumn(Band.BinCol, toColumn(Band.expand(bin(at(leftX))))).as("l")
      val r = right.withColumn(Band.BinCol, toColumn(bin(at(rightX)))).as("r")
      val cond = Band.condition(keyCols.map(k => EqualTo(at("l", k), at("r", k))) :+
        Band.residual(t, at("l", leftX), at("r", rightX), delta),
        at("l", Band.BinCol), at("r", Band.BinCol))
      l.join(r, toColumn(cond), joinType).select((keyCols.map(at("l", _)) ++
        df.columns.filterNot(keyCols.contains).map(at("l", _)) ++
        right.columns.filterNot(keyCols.contains).map(at("r", _))).map(toColumn): _*)
    }

    /** Exact n-gram Jaccard near-duplicate pairs with a document-
      * frequency fence: shingles appearing in more than `maxShingleDf`
      * documents are excluded from CANDIDATE GENERATION, capping
      * per-shingle pair fan-out at maxShingleDf²/2 — without the fence a
      * corpus-wide common shingle makes candidate generation quadratic
      * in corpus size (the 100-TB straggler case). Set sizes stay
      * uncapped, so for corpora where no shingle exceeds the cap the
      * result equals the unfenced exact Jaccard.
      *
      * Round-7: the shingle table is built by the map-only array
      * formulation (see [[ngramShingles]]) instead of the window
      * formulation — one full exchange + sort of the token table
      * removed per call; the join/sizes structure is unchanged (a
      * sizes-ride-along variant and a collect_list pair-expansion
      * variant both measured WORSE: the former forces the shingle array
      * through the Generate output per exploded row, the latter
      * evaluates nested HOFs interpreted per element — guide §1.1,
      * switch back when the empirical loop disagrees). */
    def ngramJaccardPairs(keyCol: String, textCol: String, n: Int = 3,
        minJaccard: Double = 0.2, maxShingleDf: Int = 0): DataFrame = {
      val ka = s"${keyCol}_a"
      val kb = s"${keyCol}_b"
      val sh = Materialize(ngramShingles(keyCol, textCol, n))
      val sizes = sh.groupBy(col(keyCol)).agg(count(lit(1)).as("_n"))
      val joinable = if (maxShingleDf > 0) {
        sh.withColumn("_df", count(lit(1)).over(Window.partitionBy(col("shingle"))))
          .filter(col("_df") <= maxShingleDf).drop("_df")
      } else sh
      val a = joinable.select(col(keyCol).as(ka), col("shingle"))
      val b = joinable.select(col(keyCol).as(kb), col("shingle"))
      val inter = a.join(b, Seq("shingle"))
        .filter(col(ka) < col(kb))
        .groupBy(col(ka), col(kb))
        .agg(count(lit(1)).as("_inter"))
      inter
        .join(sizes.select(col(keyCol).as(ka), col("_n").as("_na")), ka)
        .join(sizes.select(col(keyCol).as(kb), col("_n").as("_nb")), kb)
        .withColumn("jaccard",
          round(col("_inter").cast("double") / (col("_na") + col("_nb") - col("_inter")).cast("double"), 6))
        .filter(col("jaccard") >= minJaccard)
        .select(col(ka), col(kb), col("jaccard"))
    }

    /** Distinct word-level n-gram shingles: (passthrough keyCol,
      * shingle). Round-7 rewrite: built map-side from the split-token
      * array — tokenize, assemble sliding n-grams, per-doc dedup
      * (array_distinct ≡ the old global distinct, the key being part of
      * every row) in one map stage, with [[Graft.fanOut]] supplying
      * parallelism when the scan is split-starved. The window-lead
      * formulation this replaces paid a full exchange + sort of the
      * TOKEN table per call (guide §2.4 — an accidental shuffle).
      *
      * PLAN SHAPE CONSTRAINT (measured 40x, see OPTIMIZATION_r07.md):
      * the array expression must stay INLINE as the explode argument
      * and be referenced NOWHERE else — staging it through a projection
      * attribute, or referencing it a second time (e.g. a size() in the
      * same select), makes GenerateExec carry/recompute the whole array
      * per exploded OUTPUT row: O(shingles²) per doc. */
    def ngramShingles(keyCol: String, textCol: String, n: Int = 3): DataFrame = {
      Graft.fanOut(df, col(keyCol))
        .select(col(keyCol), split(trim(lower(col(textCol))), "\\s+").as("_ws"))
        .select(col(keyCol), explode(array_distinct(
          when(size(col("_ws")) >= n,
            transform(sequence(lit(0), size(col("_ws")) - n), i =>
              concat_ws(" ", (0 until n).map(j => element_at(col("_ws"), i + lit(j + 1))): _*)))
            .otherwise(array().cast("array<string>")))).as("shingle"))
    }

    /** MinHash signatures over word-n-gram shingles: (keyCol,
      * sig: array<string>). Component i is the min over the doc's
      * shingles of `md5(shingle # i)` compared AS A HEX STRING — a
      * PORTABLE hash family (md5 is bit-identical in every engine and
      * string min is plain lexicographic order), which is what lets the
      * DuckDB oracle reproduce q26's banding and estimate exactly.
      * Explode + one hash aggregate with k codegen'd `min` columns
      * (nested higher-order functions run interpreted, ~20x slower). */
    def minhashSignatures(keyCol: String, textCol: String, k: Int = 16, n: Int = 3): DataFrame = {
      val mins = (0 until k).map(i =>
        min(md5(concat_ws("#", col("shingle"), lit(i)))).as(s"_m$i"))
      ngramShingles(keyCol, textCol, n)
        .groupBy(col(keyCol)).agg(mins.head, mins.tail: _*)
        .select(col(keyCol), array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
    }

    /** MinHash + LSH banding near-duplicate candidate pairs with
      * estimated similarity: (<key>_a, <key>_b, est_sim) with
      * <key>_a < <key>_b and est_sim — the fraction of equal signature
      * components — >= minSim. Candidate generation is ONE equi-join on
      * (band, md5 of the band's k / bands components), never an
      * all-pairs product. The signature rides through that join (one
      * row per doc per band) instead of being joined back onto the pair
      * list, and the estimate is a codegen'd element_at sum, not an
      * interpreted zip_with/aggregate. It is evaluated BEFORE the
      * distinct, so the distinct groups by scalars (an array grouping
      * key forces an interpreted sort-based aggregate); est_sim is a
      * pure function of the pair, so distinct-then-filter is unchanged
      * (plan diff and timings: plans/r07/q26_*, OPTIMIZATION_r07.md). */
    def minhashCandidatePairs(keyCol: String, textCol: String, k: Int = 16,
        bands: Int = 4, minSim: Double = 0.25): DataFrame = {
      require(k % bands == 0, s"minhashCandidatePairs: bands ($bands) must divide k ($k)")
      val (ka, kb) = (s"${keyCol}_a", s"${keyCol}_b")
      val rowsPerBand = k / bands
      val sig = Materialize(minhashSignatures(keyCol, textCol, k))
      val banded = sig.select(col(keyCol), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          md5(concat_ws("|", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))))
        .withColumnRenamed("pos", "_band").withColumnRenamed("col", "_bucket")
      val a = banded.select(col("_band"), col("_bucket"), col(keyCol).as(ka), col("sig").as("_sa"))
      val b = banded.select(col("_band"), col("_bucket"), col(keyCol).as(kb), col("sig").as("_sb"))
      val matches = (1 to k).map(i =>
        when(element_at(col("_sa"), i) === element_at(col("_sb"), i), 1).otherwise(0)).reduce(_ + _)
      a.join(b, Seq("_band", "_bucket"))
        .filter(col(ka) < col(kb))
        .select(col(ka), col(kb), (matches.cast("double") / k.toDouble).as("est_sim"))
        .distinct()
        .filter(col("est_sim") >= minSim)
    }

    /** SimHash signatures: (keyCol, sim: long), bit b (b < [[SimhashBits]])
      * set by majority vote over the doc's whitespace tokens. The token
      * hash is PORTABLE — the top 60 bits of md5(token) as an integer,
      * identical in any engine — so the DuckDB oracle reproduces q27's
      * signatures, chunk buckets and hamming distances exactly. Explode
      * + 60 codegen'd sum aggregates (the HOF bit-vote loop runs
      * interpreted, ~10x slower), behind a [[Graft.fanOut]] on the key
      * that the vote aggregate's exchange reuses. */
    def simhashSignatures(keyCol: String, textCol: String): DataFrame = {
      val votes = (0 until SimhashBits).map(b => sum(
        when(call_function("shiftright", col("_h"), lit(b)).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1)).as(s"_v$b"))
      val assembled = (0 until SimhashBits).map(b =>
        when(col(s"_v$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_.bitwiseOR(_))
      Graft.fanOut(df, col(keyCol))
        .select(col(keyCol), explode(split(trim(lower(col(textCol))), "\\s+")).as("_tok"))
        .select(col(keyCol),
          conv(substring(md5(col("_tok")), 1, 15), 16, 10).cast("long").as("_h"))
        .groupBy(col(keyCol))
        .agg(votes.head, votes.tail: _*)
        .select(col(keyCol), assembled.as("sim"))
    }

    /** Connected components over an edge list (this frame's `srcCol`,
      * `dstCol` columns): labels every node with the MINIMUM node id
      * reachable from it. The canonicalization step that turns near-dup
      * PAIRS (ngramJaccardPairs / minhashCandidatePairs / SimHash
      * chunk-LSH) into dedup CLUSTERS: keep the min doc of each
      * component, drop the rest — without it, transitive chains
      * (A~B, B~C but A!~C) dedup inconsistently.
      *
      * Algorithm: min-label propagation with POINTER JUMPING — each
      * round (1) every node takes the min label across its neighbors
      * and itself, then (2) labels compress through themselves
      * (label(x) := label(label(x)), the union-find path-halving step),
      * so convergence is O(log diameter) rounds, not O(diameter): a
      * 10^6-node chain needs ~20 rounds, not 10^6. Each round is a
      * bounded number of hash-shuffles of the O(E) edge list — no
      * driver-side graph state, no collect; the edge list is the
      * near-dup PAIR set, which is orders of magnitude smaller than the
      * corpus at 100 TB. Rounds run to a fixpoint (changed-label count
      * = 0) capped at `maxIter`.
      *
      * Output: one row per distinct node, (node, component) in the node
      * column's own type. Per-round state goes through
      * [[Materialize.loopState]] — iterative lineage MUST be cut every
      * round (a round references the previous frame several times, so a
      * persist-only loop grows the logical plan exponentially and the
      * ANALYZER becomes the bottleneck); reliable `checkpoint` under
      * `spark.graft.materialize=checkpoint` on a real cluster. */
    def connectedComponents(srcCol: String, dstCol: String,
        maxIter: Int = 50): DataFrame = {
      // the symmetrization union references the input pair frame TWICE —
      // without a persist the whole upstream pair pipeline runs twice
      // inside the edges job (round-7; measured on q57, where the pair
      // generation is the dominant cost). No distinct(): min-label
      // propagation gives the same labels over duplicate edges.
      val pairsOnce = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val edges = Materialize.loopState(
        pairsOnce.select(col(srcCol).as("_ca"), col(dstCol).as("_cb"))
          .union(pairsOnce.select(col(dstCol).as("_ca"), col(srcCol).as("_cb"))))
      pairsOnce.unpersist(blocking = false)
      // init: label = min(self, neighbors); every node appears as _ca
      var labels = Materialize.loopState(edges.groupBy(col("_ca").as("node"))
        .agg(least(first(col("_ca")), min(col("_cb"))).as("component")))
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIter) {
        // (1) propagate the min label across edges. The previous label
        // rides along (as `_old`: present exactly once per node, on the
        // self row of the union) so convergence is observable in pass
        // (2) without a separate join+count job per round.
        // prop is referenced twice by the jump join below: a lazy
        // persist makes it compute once WITHOUT a separate
        // materialization job (round-7 — the eager loopState here cost
        // one extra job per round; the round's lineage cut happens once,
        // on `next`, which is all the plan-growth bound needs)
        val prop = edges
          .join(labels.select(col("node").as("_ca"), col("component")), "_ca")
          .select(col("_cb").as("node"), col("component"),
            lit(null).cast(labels.schema("component").dataType).as("_old"))
          .union(labels.withColumn("_old", col("component")))
          .groupBy(col("node")).agg(min(col("component")).as("component"),
            max(col("_old")).as("_old"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // (2) pointer-jump: compress label through its own label; the
        // changed-label count is collected by observe() DURING the same
        // materialization action — no extra job for convergence.
        val obs = org.apache.spark.sql.Observation()
        val next = Materialize.loopState(prop
          .join(prop.select(col("node").as("_jn"), col("component").as("_jc")),
            col("component") === col("_jn"), "left")
          .select(col("node"), coalesce(col("_jc"), col("component")).as("component"),
            col("_old"))
          .observe(obs, sum(when(col("component") =!= col("_old"), 1L).otherwise(0L))
            .as("changed"))
          .drop("_old"))
        changed = obs.get.get("changed").collect { case l: Long => l }.getOrElse(0L)
        labels.unpersist()
        prop.unpersist()
        labels = next
        iter += 1
      }
      if (changed > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"connectedComponents did not converge in $maxIter rounds " +
            s"($changed labels still changing) — returned labels may merge " +
            "incompletely; raise maxIter")
      edges.unpersist()
      labels
    }

    /** One-call fuzzy dedup: MinHash-LSH near-dup candidate pairs (the
      * q26 operator, [[minhashCandidatePairs]]) ->
      * connected components -> drop every doc that is not its cluster's
      * minimum id. Transitive chains (A~B, B~C, A!~C) collapse to one
      * kept doc; docs in no pair pass through untouched. All input
      * columns are retained; the removal join is a left_anti on the
      * loser-id set (O(losers), broadcastable when small). */
    def dedupNearDuplicates(keyCol: String, textCol: String, k: Int = 16,
        bands: Int = 4, minSim: Double = 0.5): DataFrame = {
      val losers = df
        .minhashCandidatePairs(keyCol, textCol, k, bands, minSim)
        .connectedComponents(s"${keyCol}_a", s"${keyCol}_b")
        .filter(col("node") =!= col("component"))
        .select(col("node").as(keyCol))
      df.join(losers, Seq(keyCol), "left_anti")
    }

    /** Brute-force cosine top-k neighbors of each row in `queries`
      * (broadcast) — native codegen CosineSimilarity kernel. Inputs
      * need (idCol, vecCol) on both sides. */
    def knnCosine(queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
      val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
      df.crossJoin(broadcast(q))
        .filter(col(idCol) =!= col("query_id"))
        .select(col("query_id"), col(idCol).as("neighbor_id"),
          graft.functions.CosineSimilarity(col(vecCol), col("_qv")).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
    }
  }
}
