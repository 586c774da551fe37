package graft.streaming

import graft.core.{FileWatermarkStore, MiniJson, WatermarkStore}
import graft.operators.{MergeDialect, MsSqlCtDialect, SynapseLinkDialect, UpsertBlobDialect}
import graft.sources.BlobSourceConfig
import org.apache.spark.sql.SparkSession

/** JSON stream-context configuration — the reference's
  * `STREAMCONTEXT__SPEC` contract (models/app/PluginStreamContext.scala:18-76):
  * one JSON document declares source, sink, mode and throughput; the runner
  * wires the pipeline from it. Same idea here with the Spark-native pieces.
  *
  * {{{
  * {"streamId": "orders-feed",
  *  "backfill": false, "backfillBehavior": "merge",
  *  "source": {"kind": "blob-listing", "path": "/data/in", "format": "parquet",
  *             "pkColumns": ["id"]},
  *  "sink": {"targetDir": "/data/target", "dialect": "upsert-blob",
  *           "keyColumn": "ARCANE_MERGE_KEY"},
  *  "fieldFilter": {"exclude": ["raw_debug"]},
  *  "maintenance": {"every": 10, "snapshotsToKeep": 3},
  *  "watermarkDir": "/data/watermarks"}
  * }}}
  */
final case class StreamSpec(
    streamId: String,
    backfill: Boolean,
    backfillBehavior: String, // merge | overwrite
    source: BlobSourceConfig,
    targetDir: String,
    keyColumn: String,
    dialect: MergeDialect,
    includeColumns: Seq[String],
    excludeColumns: Seq[String],
    maintenanceEvery: Int,
    snapshotsToKeep: Int,
    watermarkDir: String) {

  def pipelineConfig: PipelineConfig = PipelineConfig(
    keyColumn = keyColumn,
    includeColumns = includeColumns,
    excludeColumns = excludeColumns,
    maintenanceEvery = maintenanceEvery,
    snapshotsToKeep = snapshotsToKeep)
}

object StreamSpec {

  def dialectFor(name: String): MergeDialect = name match {
    case "mssql-ct" => MsSqlCtDialect
    case "synapse-link" => SynapseLinkDialect
    case "upsert-blob" => UpsertBlobDialect
    case other => throw new IllegalArgumentException(s"unknown dialect: $other")
  }

  def fromJson(json: String): StreamSpec = {
    val root = MiniJson.parse(json).asObj
    def str(o: Map[String, MiniJson.JValue], k: String, default: => String = null): String =
      o.get(k).map(_.asStr).getOrElse {
        Option(default).getOrElse(throw new IllegalArgumentException(s"missing '$k'"))
      }
    def strs(o: Map[String, MiniJson.JValue], k: String): Seq[String] =
      o.get(k).map(_.asArr.map(_.asStr)).getOrElse(Nil)

    val src = root.getOrElse("source",
      throw new IllegalArgumentException("missing 'source'")).asObj
    require(str(src, "kind", "blob-listing") == "blob-listing",
      "round-1 config wiring supports the blob-listing source; MSSQL/CDM wire programmatically")
    val sink = root.getOrElse("sink",
      throw new IllegalArgumentException("missing 'sink'")).asObj
    val filter = root.get("fieldFilter").map(_.asObj).getOrElse(Map.empty)
    val maint = root.get("maintenance").map(_.asObj).getOrElse(Map.empty)

    StreamSpec(
      streamId = str(root, "streamId"),
      backfill = root.get("backfill").exists(_.asBool),
      backfillBehavior = str(root, "backfillBehavior", "merge"),
      source = BlobSourceConfig(
        path = str(src, "path"),
        format = str(src, "format", "parquet"),
        pkColumns = strs(src, "pkColumns"),
        // reader options pass through (header, delimiter, timestampFormat,
        // ...). Scalar JSON values coerce to the string form
        // DataFrameReader.option takes anyway — {"header": true} is the
        // shape users naturally write; a non-scalar fails naming the key
        readerOptions = src.get("readerOptions")
          .map(_.asObj.map { case (k, v) =>
            k -> (v match {
              case MiniJson.JStr(s2)    => s2
              case MiniJson.JBool(b)    => b.toString
              case MiniJson.JNum(_, raw) => raw
              case other => throw new IllegalArgumentException(
                s"readerOptions.$k must be a scalar, got $other")
            })
          })
          .getOrElse(Map.empty),
        // pre-configured source schema, either Spark DDL ("a INT, b STRING")
        // or an Avro schema JSON — the two wire formats a migrating stream
        // config carries (the reference's own docs warn that inference can
        // corrupt an empty source)
        sourceSchema = src.get("schemaDdl")
          .map(d => graft.sources.BlobListingSource.BlobSchema.fromDdl(d.asStr))
          .orElse(src.get("schemaAvro")
            .map(d => graft.sources.BlobListingSource.BlobSchema.fromAvro(d.asStr)))),
      targetDir = str(sink, "targetDir"),
      keyColumn = str(sink, "keyColumn", "ARCANE_MERGE_KEY"),
      dialect = dialectFor(str(sink, "dialect", "upsert-blob")),
      includeColumns = strs(filter, "include"),
      excludeColumns = strs(filter, "exclude"),
      maintenanceEvery = maint.get("every").map(_.asLong.toInt).getOrElse(10),
      snapshotsToKeep = maint.get("snapshotsToKeep").map(_.asLong.toInt).getOrElse(3),
      watermarkDir = str(root, "watermarkDir"))
  }
}

/** Config-driven runner — the GenericStreamRunnerService equivalent
  * (services/app/GenericStreamRunnerService.scala:36-51): bootstrap, then
  * stream (poll loop) or one-shot backfill, per the spec.
  */
object StreamRunner {

  def build(spark: SparkSession, spec: StreamSpec): (CdcPipeline, ParquetTarget, WatermarkStore) = {
    val wms = new FileWatermarkStore(spec.watermarkDir)
    val pipeline = new CdcPipeline(spark, spec.dialect, spec.pipelineConfig, wms)
    val target = new ParquetTarget(spark, spec.targetDir)
    (pipeline, target, wms)
  }

  /** Run per spec: backfill → one catch-up batch through the spec's field
    * filter (merge: the pipeline without maintenance; overwrite: filtered,
    * then swapped in); streaming → poll loop (maxPolls bounds it for tests;
    * production passes MaxValue).
    */
  def run(spark: SparkSession, spec: StreamSpec, maxPolls: Int = Int.MaxValue,
          pollIntervalMs: Long = 1000): Unit = {
    val (pipeline, target, wms) = build(spark, spec)
    if (spec.backfill) {
      graft.sources.BlobListingSource.nextBatch(spark, spec.source, None).foreach {
        case (batch, wm) => spec.backfillBehavior match {
          case "overwrite" =>
            Backfill.overwrite(target, spec.streamId, pipeline.filterFields(batch),
              spec.keyColumn, spec.dialect, wm, wms)
          case _ =>
            Backfill.merge(target, spec.streamId, batch, spec.pipelineConfig,
              spec.dialect, wm, wms)
        }
      }
    } else {
      pipeline.runBlobStream(spec.source, target, spec.streamId,
        pollIntervalMs = pollIntervalMs, maxPolls = maxPolls)
    }
  }
}
