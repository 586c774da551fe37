package graft.streaming

import graft.operators.{CdcMerge, MergeDialect}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Merge-key-bucketed catalog target: the 100 TB shape of the CDC sink.
  *
  * A plain parquet target makes every merge shuffle BOTH sides on the merge
  * key; bucketing the target by that key (`bucketBy` + `sortBy` in the
  * session catalog — same mechanics as Iceberg's bucket partition transform)
  * lets Spark read the target pre-partitioned: the sort-merge join plans NO
  * exchange on the target side, so per-batch shuffle cost is proportional to
  * the CHANGE SET, not the table. `MergePlanInspector.targetSideExchanges`
  * asserts that property in tests instead of trusting folklore.
  *
  * Writes go through `insertInto`-style overwrite of the bucketed table —
  * each commit rewrites buckets with Spark's bucketed writer, keeping the
  * invariant for the next merge.
  */
final class BucketedTarget(spark: SparkSession, val tableName: String,
                           keyColumn: String, numBuckets: Int) {

  // Self-heal the documented crash window on entry: a death between
  // [[overwrite]]'s DROP TABLE and RENAME leaves the COMPLETED replacement
  // durable under the staged name and no live table — without this, the
  // next merge() fails on read() and the next overwrite() writes a fresh
  // table while the finished swap sits orphaned. Live-present + staged-
  // present is the OTHER window (crash before the drop): the swap never
  // committed, so the stale staging is discarded by the next overwrite.
  if (!spark.catalog.tableExists(tableName) &&
      spark.catalog.tableExists(tableName + "__staged"))
    spark.sql(s"ALTER TABLE ${tableName + "__staged"} RENAME TO $tableName")

  def exists: Boolean = spark.catalog.tableExists(tableName)

  def read(): DataFrame = spark.table(tableName)

  private def stagedName = tableName + "__staged"

  private def writeBucketed(df: DataFrame, name: String): Unit =
    df.write
      .bucketBy(numBuckets, keyColumn)
      .sortBy(keyColumn)
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .saveAsTable(name)

  /** Create or fully replace the bucketed table from a frame.
    *
    * Replacement is a STAGED SWAP, never drop-then-rewrite: the new
    * content is written completely to `<table>__staged` (the original
    * stays readable — which is also what lets [[merge]] write a plan
    * that READS the original, with no checkpoint materialization), and
    * only then does the drop + rename run. A crash before the swap
    * leaves the original intact; a crash inside the tiny drop/rename
    * window leaves the full replacement durable under the staged name
    * (recovery = rename it), never data living only in executor blocks.
    */
  def overwrite(df: DataFrame): Unit = {
    if (!exists) writeBucketed(df, tableName)
    else {
      spark.sql(s"DROP TABLE IF EXISTS $stagedName")
      writeBucketed(df, stagedName)
      spark.sql(s"DROP TABLE $tableName")
      spark.sql(s"ALTER TABLE $stagedName RENAME TO $tableName")
    }
  }

  /** Version-guarded CDC merge into the bucketed table. `changes` must be
    * deduplicated per key. The merged result lands bucketed again; the
    * merge plan reads the live table while the staged write materializes
    * it (see [[overwrite]]).
    */
  def merge(changes: DataFrame, dialect: MergeDialect): Unit =
    overwrite(CdcMerge.applyChanges(read(), changes, keyColumn, dialect))
}

/** Plan inspection helpers for shuffle accounting in tests and tuning. */
object MergePlanInspector {

  /** Count ShuffleExchange operators in the executed plan. */
  def exchanges(df: DataFrame): Int =
    "ShuffleExchange|Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  /** Count exchanges whose subtree contains the given table's scan — 0 on a
    * correctly bucketed target side.
    */
  def targetSideExchanges(df: DataFrame, tableName: String): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def scanOf(p: SparkPlan): Boolean =
      p.toString.contains(tableName)
    def walk(p: SparkPlan): Int = {
      val self = p match {
        case e: ShuffleExchangeLike if scanOf(e.child) => 1
        case _ => 0
      }
      self + p.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }
}
