package graft.cdc

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical change-event envelope (Debezium/binlog-style).
  *
  * `after` is the post-image payload serialized as JSON under the schema
  * version `schemaVersion`; `null` for deletes. The key is flattened into
  * `(repo, path)` so partitioning/bucketing can reference it directly.
  *
  * Reference analogue: the per-timestep variable read of pySpatialETL
  * (coverage/TimeCoverage.py:266-306 tolerant time lookup +
  * point/TimeMultiPoint.py:309-321 dedup/sort) — the "one change at
  * position (key, t)" unit of work, re-expressed as a typed Dataset row.
  */
final case class ChangeEvent(
    op: String, // "I" | "U" | "D"
    lsn: Long, // global monotone log sequence number
    ts: java.sql.Timestamp, // event time
    schemaVersion: Int,
    repo: String,
    path: String,
    before: String, // JSON pre-image when the source captures one (null
                    // for inserts and for sources without row images);
                    // the apply path is after-image-driven (full-image
                    // LWW), before is reserved for lost-update audits
    after: String // JSON payload, null for D
)

/** Versioned payload-schema registry.
  *
  * Reference analogue: `utils/VariableDefinition.py:1-501` — the static
  * registry of ~60 variables every writer consults for names/units —
  * upgraded from the reference's reject-on-mismatch append check
  * (coverage/io/netcdf/DefaultWriter.py:122-146) to additive evolution
  * (add / rename / widen), with Iceberg-style per-file schema tracking.
  *
  * Evolution timeline of the payload (beyond the key `(repo, path)`):
  *   v1: commit:string, lang:string, content:string
  *   v2: + stars:int                  (ADD)
  *   v3: stars -> stargazers          (RENAME)
  *   v4: stargazers int -> long       (WIDEN)
  */
object SchemaRegistry {

  /** One revision of a logical field: physical name + type as of `since`. */
  final case class FieldRev(since: Int, name: String, dataType: DataType)

  /** A logical field's full naming/typing history (revs ascending by `since`). */
  final case class FieldHistory(revs: Seq[FieldRev]) {
    def current: FieldRev = revs.last
    def revAt(version: Int): Option[FieldRev] =
      revs.takeWhile(_.since <= version).lastOption
    def allNames: Seq[String] = revs.map(_.name).distinct
  }

  val keyFields: Seq[String] = Seq("repo", "path")

  val fields: Seq[FieldHistory] = Seq(
    FieldHistory(Seq(FieldRev(1, "commit", StringType))),
    FieldHistory(Seq(FieldRev(1, "lang", StringType))),
    FieldHistory(Seq(FieldRev(1, "content", StringType))),
    FieldHistory(
      Seq(
        FieldRev(2, "stars", IntegerType),
        FieldRev(3, "stargazers", IntegerType),
        FieldRev(4, "stargazers", LongType)))
  )

  val maxVersion: Int = 4

  /** Physical payload schema as written at `version` (what files of that
    * era contain; the generator also serializes JSON with these names). */
  def physicalSchema(version: Int): StructType =
    StructType(fields.flatMap(_.revAt(version)).map(r =>
      StructField(r.name, r.dataType, nullable = true)))

  /** Lenient JSON read schema: every historical name at its widest type
    * (JSON integers parse losslessly into wider integral types). */
  def readSchema: StructType =
    StructType(fields.flatMap(f => f.allNames.map(n =>
      StructField(n, f.current.dataType, nullable = true))))

  /** Columns of the current (widest) state schema, in registry order. */
  def currentPayloadNames: Seq[String] = fields.map(_.current.name)

  /** Project a PRE-PARSED payload struct column (see [[parsePayload]])
    * of type `payload` to the CURRENT schema — the one schema the apply
    * stage writes: for each logical field, coalesce across the
    * historical names `payload` has (newest first) and cast to the
    * current type. Handles add (missing -> null), rename (old name
    * coalesced in) and widen (upcast) in one projection, entirely as
    * Catalyst expressions, whatever era a row was labelled with.
    *
    * IMPORTANT: callers must materialize `parsePayload` in its own
    * projection first — `from_json` is CodegenFallback and referencing
    * it per-field would re-parse the JSON once per field (measured ~4x
    * slowdown of the whole apply path). */
  def normalized(parsed: Column, payload: StructType): Seq[Column] =
    fields.map { f =>
      val cands = f.allNames.reverse.filter(payload.fieldNames.contains)
        .map(n => parsed.getField(n).cast(f.current.dataType))
      (cands match {
        case Seq() => lit(null).cast(f.current.dataType)
        case Seq(c) => c
        case _ => coalesce(cands: _*)
      }).as(f.current.name)
    }

  /** One-shot JSON parse of the `after` payload at the lenient read
    * schema; keep it in a dedicated projection so it is evaluated once. */
  def parsePayload(afterJson: Column): Column = from_json(afterJson, readSchema)

  /** Align a DataFrame written under an older physical schema to the
    * current one: resolve renames via the history chain, widen via cast,
    * null-fill added fields. Name-chain mapping emulates Iceberg's
    * field-id based rename resolution. Non-payload columns pass through. */
  def alignToCurrent(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val present = df.columns.toSet
    val payloadCols = fields.map { f =>
      f.allNames.reverse.find(present.contains) match {
        case Some(n) => col(n).cast(f.current.dataType).as(f.current.name)
        case None    => lit(null).cast(f.current.dataType).as(f.current.name)
      }
    }
    val allPayloadNames = fields.flatMap(_.allNames).toSet
    val passthrough = df.columns.filterNot(allPayloadNames.contains).map(col).toSeq
    df.select(passthrough ++ payloadCols: _*)
  }
}
