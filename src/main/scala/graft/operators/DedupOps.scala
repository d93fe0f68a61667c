package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft._

/** Deduplication family over `documents`: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. The scale path is always
  * shingle -> signature -> band-bucket join (candidate generation is an
  * equi-join on bucket ids, NEVER an all-pairs product); the exact
  * Jaccard variant is the quality oracle the approximate ones are
  * spec-tested against.
  */
object DedupOps {

  val MinhashK = 16
  val Bands = 4 // 4 rows per band
  val MaxShingleDf = 100 // candidate-generation fence for exact Jaccard

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: hash-groupBy on full text
    "q24_dedup_exact" -> ((s, dir) => {
      table(s, s"$dir/documents.parquet")
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_doc_id"))
        .filter(col("cnt") >= 1)
    }),

    // exact n-gram Jaccard near-dup pairs: explode shingles, equi-join
    // on shingle (candidate pairs share >= 1 shingle), count overlap,
    // Jaccard = inter / (|A| + |B| - inter). The self-join is FENCED by
    // a shingle document-frequency cap (df <= 100): without it one
    // corpus-wide common shingle is O(df²) in the join — the quadratic
    // straggler the verdict flagged. The DuckDB oracle applies the same
    // cap; at gate scale max df = 7, so the fence is semantics-neutral
    // there while bounding fan-out at 100x data.
    "q25_ngram_jaccard" -> ((s, dir) => {
      table(s, s"$dir/documents.parquet")
        .ngramJaccardPairs("doc_id", "text", n = 3, minJaccard = 0.2, maxShingleDf = MaxShingleDf)
        .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"), col("jaccard"))
    }),

    // MinHash + LSH banding: candidates = pairs sharing a band bucket
    // (equi-join on (band, md5-of-band-slice)); est similarity =
    // fraction of matching minhash components (Graft's
    // minhashCandidatePairs). The portable md5 hash family makes the
    // whole pipeline — signatures, banding, candidate join, estimate —
    // reproducible in DuckDB: EXACT oracle gate, plus the recall spec
    // vs the exact Jaccard oracle.
    "q26_dedup_minhash_lsh" -> ((s, dir) => {
      table(s, s"$dir/documents.parquet")
        .minhashCandidatePairs("doc_id", "text", MinhashK, Bands, minSim = 0.25)
        .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
          round(col("est_sim"), 4).as("est_sim"))
    }),

    // near-dup CLUSTERS from exact-Jaccard pairs: distributed connected
    // components (min-label propagation + pointer jumping — O(log
    // diameter) rounds of bounded hash-shuffles over the PAIR list,
    // which is corpus-scale-independent) labels each duplicate doc with
    // the min doc_id of its component — the canonicalization step
    // between pair generation and "keep one copy" (transitive chains
    // A~B~C collapse to one cluster even when A!~C directly).
    "q57_dup_clusters" -> ((s, dir) => {
      table(s, s"$dir/documents.parquet")
        .ngramJaccardPairs("doc_id", "text", n = 3, minJaccard = 0.2, maxShingleDf = MaxShingleDf)
        .connectedComponents("doc_id_a", "doc_id_b")
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
    }),

    // SimHash near-dup: 60-bit signature per doc (Graft's portable
    // md5-token simhashSignatures, so the DuckDB oracle
    // reproduces signatures, chunk buckets and hamming distances
    // exactly), candidate pairs by identical 15-bit chunk (LSH on
    // bit-chunks), keep hamming <= 6.
    "q27_dedup_simhash" -> ((s, dir) => {
      val sigd = graft.Materialize(
        table(s, s"$dir/documents.parquet").simhashSignatures("doc_id", "text"))
      val chunked = sigd.select(col("doc_id"), col("sim"),
        posexplode(transform(sequence(lit(0), lit(3)), q =>
          call_function("shiftright", col("sim"), q * lit(15)).bitwiseAND(lit(0x7FFFL)))))
        .withColumnRenamed("pos", "q").withColumnRenamed("col", "chunk")
      val a = chunked.select(col("q"), col("chunk"), col("doc_id").as("doc_a"), col("sim").as("sim_a"))
      val b = chunked.select(col("q"), col("chunk"), col("doc_id").as("doc_b"), col("sim").as("sim_b"))
      a.join(b, Seq("q", "chunk"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b")).distinct()
        .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
        .filter(col("hamming") <= 6)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    })
  )

  /** The word-3-gram shingle set as DuckDB CTEs (`sh(doc_id, shingle)`)
    * — shared by the exact-Jaccard pairs below and the q26 minhash
    * oracle. */
  private val shingleCtes =
    """toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
           FROM toks, LATERAL unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
           WHERE len(ws) >= 3)"""

  /** The exact-Jaccard pair pipeline as shared DuckDB CTEs (table
    * `pairs(doc_a, doc_b, jaccard)`) — q25 selects it directly; q57
    * closes it transitively. */
  private val pairsCtes =
    s"""$shingleCtes,
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         shc AS (
           SELECT doc_id, shingle FROM (
             SELECT doc_id, shingle,
               count(*) OVER (PARTITION BY shingle) AS df FROM sh)
           WHERE df <= $MaxShingleDf),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT doc_a, doc_b, jaccard FROM (
             SELECT doc_a, doc_b,
               round(CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
             FROM inter
             JOIN sizes sa ON sa.doc_id = doc_a
             JOIN sizes sb ON sb.doc_id = doc_b)
           WHERE jaccard >= 0.2)"""

  val oracles: Map[String, String] = Map(
    "q24_dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS cnt, min(doc_id) AS keep_doc_id
         FROM documents GROUP BY 1""",
    "q25_ngram_jaccard" ->
      s"WITH $pairsCtes SELECT doc_a, doc_b, jaccard FROM pairs",
    // transitive closure of the pair graph; component id = min reachable
    // doc_id — the recursive-CTE ground truth for connectedComponents
    "q57_dup_clusters" ->
      s"""WITH RECURSIVE $pairsCtes,
         e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
               UNION SELECT doc_b, doc_a FROM pairs),
         reach(node, comp) AS (
           SELECT a, a FROM (SELECT DISTINCT a FROM e)
           UNION
           SELECT e.a, r.comp FROM e JOIN reach r ON r.node = e.b)
         SELECT node AS doc_id, min(comp) AS cluster_id
         FROM reach GROUP BY node""",
    // the FULL minhash/LSH pipeline reproduced: same md5 hash family,
    // same string-min signatures, same band buckets, same estimate —
    // the gate checks candidate generation and similarity estimation
    // exactly, not just row counts
    "q26_dedup_minhash_lsh" ->
      s"""WITH $shingleCtes,
         sig AS (
           SELECT doc_id, k, min(md5(shingle || '#' || CAST(k AS VARCHAR))) AS m
           FROM sh, LATERAL unnest(range($MinhashK)) AS t(k)
           GROUP BY doc_id, k),
         bands AS (
           SELECT doc_id, k // ${MinhashK / Bands} AS band,
             md5(string_agg(m, '|' ORDER BY k)) AS bucket
           FROM sig GROUP BY doc_id, k // ${MinhashK / Bands}),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         est AS (
           SELECT doc_a, doc_b,
             round(CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST($MinhashK AS DOUBLE), 4) AS est_sim
           FROM cand
           JOIN sig sa ON sa.doc_id = doc_a
           JOIN sig sb ON sb.doc_id = doc_b AND sb.k = sa.k
           GROUP BY doc_a, doc_b)
         SELECT doc_a, doc_b, est_sim FROM est WHERE est_sim >= 0.25""",
    // the FULL simhash pipeline reproduced bit-for-bit: same md5-top-60
    // token hash, same per-bit majority votes, same 15-bit chunk LSH,
    // same hamming threshold (SQL generated: 60 vote aggregates)
    "q27_dedup_simhash" -> {
      val votes = (0 until SimhashBits)
        .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
        .mkString(",\n             ")
      val assembled = (0 until SimhashBits)
        .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" | ")
      s"""WITH toks AS (
           SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
           FROM documents),
         hashes AS (
           SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
           FROM toks),
         votes AS (
           SELECT doc_id,
             $votes
           FROM hashes GROUP BY doc_id),
         sig AS (SELECT doc_id, $assembled AS sim FROM votes),
         chunks AS (
           SELECT doc_id, sim, q, (sim >> (q * 15)) & 32767 AS chunk
           FROM sig, LATERAL unnest(range(4)) AS t(q)),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sim AS sim_a, b.sim AS sim_b
           FROM chunks a JOIN chunks b
             ON a.q = b.q AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
         FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 6"""
    }
  )
}
