package graft.operators

import graft.core.SchemaEvolution
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The merge dialects: which source rows are deletes, which column orders
  * versions, and whether inserts are guarded. One object per source family,
  * mirroring the reference's three batch consumers
  * (/root/reference/src/main/scala/models/batches/SqlServerChangeTracking.scala:17-58,
  * SynapseLink.scala:17-58, UpsertBlob.scala:17-48).
  */
sealed trait MergeDialect {
  /** Column name carrying the monotonically increasing version. */
  def versionColumn: String
  /** Predicate on a source row marking it a delete (tombstone). Never
    * NULL: a NULL marker is NOT a delete, for every dialect and every
    * caller — the merge, the overwrite backfill's tombstone filter and a
    * view's first batch. A three-valued predicate would make
    * `filter(!isDelete)` drop a NULL-marker row, and inside the merge
    * `filter(!(present && NULL))` would drop the matched TARGET row too.
    */
  def isDelete(s: String => Column): Column
  /** Columns that order rows within a merge key, newest first. */
  def versionOrder(s: String => Column): Seq[Column] = Seq(s(versionColumn))
  /** Every column the dialect's merge semantics READ — the set a field
    * filter must never strip. The version column orders rows; subclasses
    * add their delete-marker column: losing it would make `isDelete`
    * evaluate over a NULL back-fill and silently misroute every row of
    * the batch (tombstones merged as upserts, or worse).
    */
  def essentialColumns: Seq[String] = Seq(versionColumn)
}

/** MSSQL change tracking: hard deletes via SYS_CHANGE_OPERATION = 'D',
  * versions via SYS_CHANGE_VERSION.
  */
case object MsSqlCtDialect extends MergeDialect {
  val operationColumn = "SYS_CHANGE_OPERATION"
  override val versionColumn = "SYS_CHANGE_VERSION"
  override def isDelete(s: String => Column): Column =
    coalesce(s(operationColumn) === "D", lit(false))
  override def essentialColumns: Seq[String] = Seq(versionColumn, operationColumn)
}

/** Synapse Link: soft deletes via IsDelete flag, versions via versionnumber. */
case object SynapseLinkDialect extends MergeDialect {
  val deleteColumn = "IsDelete"
  override val versionColumn = "versionnumber"
  override def isDelete(s: String => Column): Column =
    coalesce(s(deleteColumn), lit(false))
  override def essentialColumns: Seq[String] = Seq(versionColumn, deleteColumn)
}

/** Blob upsert: no deletes; versions via the file-derived createdon. */
case object UpsertBlobDialect extends MergeDialect {
  override val versionColumn = "createdon"
  override def isDelete(s: String => Column): Column = lit(false)
}

/** CDC merge as a native Spark operator.
  *
  * The reference outsources its MERGE INTO to Trino
  * (services/merging/JdbcMergeServiceClient.scala:62-91); here the same
  * semantics run inside Spark as a single full-outer join on the merge key:
  *
  *   - source row absent                        → keep target row
  *   - source is a delete                       → drop (matched or not)
  *   - source newer than target (or unmatched)  → take source row
  *   - source stale (version ≤ target's)        → keep target row
  *
  * The version guard makes the operator idempotent: replaying a batch after a
  * crash between merge and watermark commit is a no-op (SURVEY §2.8 T9).
  *
  * Scale: the join shuffles both sides on the merge key — the minimum possible
  * data movement for an upsert. The changes side has just been key-partitioned
  * by the dedup window, so AQE reuses that exchange; with a key-bucketed
  * target table the target-side shuffle disappears too. For small change
  * batches against a huge target, prefer the SQL MERGE path
  * ([[MergeSqlBuilder]]) on Iceberg/Delta, which rewrites only matching files.
  */
object CdcMerge {

  /** Add null columns for any field of `schema` the frame lacks
    * (case-insensitive), so both merge sides share one schema after additive
    * evolution.
    */
  def alignTo(df: DataFrame, schema: StructType): DataFrame = {
    val missing = SchemaEvolution.missingFields(df.schema, schema)
    missing.foldLeft(df)((acc, f) => acc.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** [[alignTo]] plus value-preserving upcasts: any existing column whose
    * type differs from the evolved schema's (only possible after
    * [[SchemaEvolution.evolveWidening]] chose a wider in-chain type) is
    * cast to it, so both merge sides share one exact schema.
    */
  private def alignAndCast(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.schema.fields.map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap
    // cast ONLY value-preserving in-chain upcasts; a cross-kind mismatch
    // must never silently downcast here (it is rejected upstream)
    val widenedCols = schema.fields.filter { f =>
      have.get(f.name.toLowerCase(java.util.Locale.ROOT)).exists(t =>
        t != f.dataType &&
          SchemaEvolution.widened(t, f.dataType).contains(f.dataType))
    }
    widenedCols.foldLeft(alignTo(df, schema)) { (acc, f) =>
      acc.withColumn(f.name, col(s"`${f.name}`").cast(f.dataType))
    }
  }

  /** Apply a deduplicated change set to a target frame. `changes` must already
    * be unique per key (run [[Dedup.latestByKey]] first — mirrors the
    * reference's reduceExpr staging subquery).
    */
  def applyChanges(target: DataFrame, changes: DataFrame, keyCol: String,
                   dialect: MergeDialect,
                   extraMatch: Option[(String => Column, String => Column) => Column] = None,
                   widenTypes: Boolean = false): DataFrame = {
    val outSchema =
      if (widenTypes) SchemaEvolution.evolveWidening(target.schema, changes.schema)
      else SchemaEvolution.evolve(target.schema, changes.schema)
    if (widenTypes) {
      // declared widening means UNSAFE coercions are an error, not a silent
      // cast: long vs double (precision loss above 2^53) must fail fast
      val bad = SchemaEvolution.conflictingFields(outSchema, changes.schema)
        .filter { case (tf, sf) =>
          SchemaEvolution.widened(tf.dataType, sf.dataType).isEmpty }
      require(bad.isEmpty,
        "non-widenable type conflicts (same name, cross-kind types): " +
          bad.map { case (tf, sf) =>
            s"${tf.name}: ${tf.dataType.simpleString} vs ${sf.dataType.simpleString}"
          }.mkString(", "))
    }
    // Literal presence flags, not key-null checks: a row whose merge key is
    // NULL (possible when callers feed raw PKs rather than computed hashes)
    // must still read as "present" on its own side, or it would surface as
    // an all-null output row after the full-outer join.
    val t = alignAndCast(target, outSchema).withColumn("__t_present", lit(true)).as("t")
    val s = alignAndCast(changes, outSchema).withColumn("__s_present", lit(true)).as("s")
    def tc(n: String): Column = col(s"t.`$n`")
    def sc(n: String): Column = col(s"s.`$n`")

    val onExpr = extraMatch.foldLeft(tc(keyCol) === sc(keyCol)) { (on, extra) =>
      on && extra(tc, sc)
    }
    val joined = t.join(s, onExpr, "full_outer")

    val sPresent = coalesce(sc("__s_present"), lit(false))
    val tPresent = coalesce(tc("__t_present"), lit(false))
    // a batch that lacks the marker column gets it NULL-backfilled by
    // alignTo; isDelete is null-safe, so that reads as "not a delete"
    val del = dialect.isDelete(sc)
    val newer = dialect.versionOrder(sc).zip(dialect.versionOrder(tc))
      .map { case (sv, tv) => sv > tv }
      .reduce(_ || _) // single version column in all three dialects
    val takeSource = sPresent && !del && (!tPresent || newer)

    // Deletes drop the row whether matched (WHEN MATCHED ... DELETE) or not
    // (WHEN NOT MATCHED guard excludes tombstone inserts) — reference M2-M3.
    joined
      .filter(!(sPresent && del))
      .select(outSchema.fieldNames.toSeq.map { c =>
        when(takeSource, sc(c)).otherwise(tc(c)).as(c)
      }: _*)
  }
}
