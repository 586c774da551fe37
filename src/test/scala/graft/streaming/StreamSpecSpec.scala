package graft.streaming

import graft.SparkSpec
import graft.core.MiniJson
import graft.operators.UpsertBlobDialect
import org.apache.spark.sql.SaveMode

import java.nio.file.Files

class MiniJsonSpec extends SparkSpec {
  test("parses nested objects, arrays, escapes, numbers, literals") {
    val v = MiniJson.parse(
      """{"a": [1, -2.5, "x\ny", true, null], "b": {"c": "A"}}""").asObj
    assert(v("a").asArr.map {
      case MiniJson.JNum(n, _) => n
      case MiniJson.JStr(s) => s
      case MiniJson.JBool(b) => b
      case MiniJson.JNull => null
      case other => other
    } == Seq(1.0, -2.5, "x\ny", true, null))
    assert(v("b").asObj("c").asStr == "A")
    intercept[IllegalArgumentException](MiniJson.parse("""{"a": }"""))
    intercept[IllegalArgumentException](MiniJson.parse("""{"a": 1} trailing"""))
  }
}

class StreamSpecSpec extends SparkSpec {
  import spark.implicits._

  private def specJson(src: String, tgt: String, wm: String, backfill: Boolean) =
    s"""{"streamId": "t-stream", "backfill": $backfill,
       |"source": {"kind": "blob-listing", "path": "$src", "format": "parquet",
       |           "pkColumns": ["id"]},
       |"sink": {"targetDir": "$tgt", "dialect": "upsert-blob"},
       |"maintenance": {"every": 0},
       |"watermarkDir": "$wm"}""".stripMargin

  test("spec parses with defaults and dialect mapping") {
    val spec = StreamSpec.fromJson(specJson("/in", "/out", "/wm", backfill = false))
    assert(spec.streamId == "t-stream")
    assert(spec.dialect == UpsertBlobDialect)
    assert(spec.keyColumn == "ARCANE_MERGE_KEY")
    assert(spec.maintenanceEvery == 0)
    intercept[IllegalArgumentException](StreamSpec.fromJson("""{"streamId": "x"}"""))
  }

  test("readerOptions and declared schemas parse from JSON (DDL and Avro forms)") {
    val withOpts = StreamSpec.fromJson(
      """{"streamId": "s", "watermarkDir": "/wm",
        |"source": {"path": "/in", "format": "csv",
        |           "readerOptions": {"header": "false", "delimiter": "|"},
        |           "schemaDdl": "id BIGINT, v STRING"},
        |"sink": {"targetDir": "/out"}}""".stripMargin)
    assert(withOpts.source.readerOptions == Map("header" -> "false", "delimiter" -> "|"))
    assert(withOpts.source.sourceSchema.get.fieldNames.toSeq == Seq("id", "v"))
    val avro = """{\"type\":\"record\",\"name\":\"r\",\"fields\":
                 |[{\"name\":\"id\",\"type\":\"long\"},
                 |{\"name\":\"name\",\"type\":[\"null\",\"string\"]}]}"""
      .stripMargin.replace("\n", "")
    val withAvro = StreamSpec.fromJson(
      s"""{"streamId": "s", "watermarkDir": "/wm",
         |"source": {"path": "/in", "schemaAvro": "$avro"},
         |"sink": {"targetDir": "/out"}}""".stripMargin)
    val st = withAvro.source.sourceSchema.get
    assert(st.fieldNames.toSeq == Seq("id", "name"))
    assert(st("name").nullable, "null-union Avro branch maps to nullable")
  }

  test("config-driven streaming run: poll loop end to end from JSON") {
    val srcDir = Files.createTempDirectory("cfg_src").toString
    val tgtDir = Files.createTempDirectory("cfg_tgt").toString
    val wmDir = Files.createTempDirectory("cfg_wm").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode(SaveMode.Append).parquet(srcDir)
    val spec = StreamSpec.fromJson(specJson(srcDir, tgtDir, wmDir, backfill = false))
    StreamRunner.run(spark, spec, maxPolls = 2, pollIntervalMs = 10)
    val target = new ParquetTarget(spark, tgtDir)
    assert(target.read().count() == 2)
    // watermark persisted to the configured dir
    assert(new graft.core.FileWatermarkStore(wmDir).get("t-stream").isDefined)
  }

  test("config-driven backfill overwrite from JSON") {
    val srcDir = Files.createTempDirectory("cfg_src2").toString
    val tgtDir = Files.createTempDirectory("cfg_tgt2").toString
    val wmDir = Files.createTempDirectory("cfg_wm2").toString
    Seq((1L, "a"), (1L, "a2"), (2L, "b")).toDF("id", "v")
      .write.mode(SaveMode.Append).parquet(srcDir)
    val json = specJson(srcDir, tgtDir, wmDir, backfill = true)
      .replace(""""backfillBehavior"""", """"zz"""") // ensure default path not needed
    val spec = StreamSpec.fromJson(json).copy(backfillBehavior = "overwrite")
    StreamRunner.run(spark, spec)
    val target = new ParquetTarget(spark, tgtDir)
    // dedup-latest by merge key: duplicate id=1 rows collapse to one
    assert(target.read().select("id").distinct().count() == 2)
  }

  test("config-driven backfill applies the spec's field filter") {
    for (behavior <- Seq("merge", "overwrite")) {
      val srcDir = Files.createTempDirectory(s"cfg_src_$behavior").toString
      val tgtDir = Files.createTempDirectory(s"cfg_tgt_$behavior").toString
      val wmDir = Files.createTempDirectory(s"cfg_wm_$behavior").toString
      Seq((1L, "a", "dbg1"), (2L, "b", "dbg2")).toDF("id", "v", "raw_debug")
        .write.mode(SaveMode.Append).parquet(srcDir)
      val json = specJson(srcDir, tgtDir, wmDir, backfill = true)
        .replace(""""maintenance"""", """"fieldFilter": {"exclude": ["raw_debug"]},
          |"maintenance"""".stripMargin)
      val spec = StreamSpec.fromJson(json).copy(backfillBehavior = behavior)
      assert(spec.excludeColumns == Seq("raw_debug"))
      StreamRunner.run(spark, spec)
      val target = new ParquetTarget(spark, tgtDir)
      assert(!target.read().columns.contains("raw_debug"),
        s"$behavior backfill kept an excluded column: ${target.read().columns.mkString(",")}")
      assert(target.read().select("id").as[Long].collect().toSet == Set(1L, 2L), behavior)
    }
  }
}
