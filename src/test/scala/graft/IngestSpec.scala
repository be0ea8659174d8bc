package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{Exports, JsonIngest}
import graft.warehouse.Ingest

/** End-to-end reference pipeline: wide JSON batch → raw landing → field
  * discovery → series registration → observations upsert → serving read,
  * plus the JSON source operators and exports.
  */
class IngestSpec extends SparkSpec {
  import ss.implicits._

  private def wideBatch = Seq(
    ("2024-01-01 06:00:00", "St Fergus", 51.2, 39.8),
    ("2024-01-01 08:00:00", "St Fergus", 51.4, 39.9),
    ("2024-01-01 06:00:00", "Bacton", 50.1, 38.2))
    .toDF("ts", "site", "wobbe", "co2")

  test("ingestWide lands raw, registers series, upserts observations idempotently") {
    val wh = Ingest.Warehouse(Files.createTempDirectory("graft-wh").toString)
    Ingest.ingestWide(spark, wh, wideBatch, "GAS_QUALITY", "ts", Seq("site"))

    assert(spark.read.parquet(wh.rawEvents).count() == 3)
    val series = spark.read.parquet(wh.metaSeries).orderBy("series_id").collect()
    assert(series.map(_.getString(0)).toSeq == Seq(
      "NG_GAS_QUALITY_BACTON_CO2", "NG_GAS_QUALITY_BACTON_WOBBE",
      "NG_GAS_QUALITY_ST_FERGUS_CO2", "NG_GAS_QUALITY_ST_FERGUS_WOBBE"))
    assert(spark.read.parquet(wh.observations).count() == 6) // 3 rows × 2 metrics

    // every observation carries its source wide row's JSON
    // (transformer.py:36: clean_json_payload(row.to_dict())) — the
    // payload /v2/data?include_raw=true serves back per point
    val raws = spark.read.parquet(wh.observations)
      .select("raw_payload").collect().map(_.getString(0))
    assert(raws.forall(p => p != null && p.contains("\"wobbe\"") &&
      p.contains("\"site\"")), raws.take(1).mkString)

    // re-ingest the same batch: raw grows (zero-loss by design),
    // catalog and observations stay fixed (idempotent upsert)
    Ingest.ingestWide(spark, wh, wideBatch, "GAS_QUALITY", "ts", Seq("site"))
    assert(spark.read.parquet(wh.metaSeries).count() == 4)
    assert(spark.read.parquet(wh.observations).count() == 6)

    // field catalog saw the numeric + string + time fields of the batch
    val cat = spark.read.parquet(wh.fieldCatalog)
      .filter(col("field_name") === "wobbe").head
    assert(cat.getAs[String]("inferred_type") == "float")

    val hist = Ingest.getHistory(spark, wh, "NG_GAS_QUALITY_ST_FERGUS_WOBBE",
      "2024-01-01 00:00:00", "2024-01-02 00:00:00").collect()
    assert(hist.map(_.getDouble(1)).toSeq == Seq(51.2, 51.4))
  }

  test("field catalog survives an interrupted swap: the next ingest merges, not truncates") {
    // the crash window recoverSwap closes, exercised on the INGEST
    // entry point: field_catalog dir missing (mid-swap crash), its
    // bytes in .backup — a raw existence probe would read "no catalog"
    // and replace ALL history with the new batch's increment
    val wh = Ingest.Warehouse(Files.createTempDirectory("graft-fcrash").toString)
    Ingest.ingestWide(spark, wh, wideBatch, "GAS_QUALITY", "ts", Seq("site"))
    val before = spark.read.parquet(wh.fieldCatalog).count()
    assert(before > 0)
    // simulate the interrupted swap: table moved to .backup, no staging
    java.nio.file.Files.move(
      java.nio.file.Paths.get(wh.fieldCatalog),
      java.nio.file.Paths.get(wh.fieldCatalog + ".backup"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // a different dataset's ingest must MERGE with the recovered history
    val other = Seq(("2024-02-01 00:00:00", "Bacton", 9.1))
      .toDF("ts", "site", "ch4")
    Ingest.ingestWide(spark, wh, other, "OTHER_DS", "ts", Seq("site"))
    val after = spark.read.parquet(wh.fieldCatalog)
    val datasets = after.select("dataset_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(datasets === Set("GAS_QUALITY", "OTHER_DS"),
      "recovered catalog history must survive the next merge")
    assert(after.filter(col("dataset_id") === "GAS_QUALITY").count() === before)
  }

  test("re-ingesting an identical batch appends no meta_series file") {
    // insert-if-absent with no new key must not append: an empty append
    // still leaves a schema-only parquet file that every /v2/data lists
    val wh = Ingest.Warehouse(Files.createTempDirectory("graft-noop").toString)
    def metaFiles = new java.io.File(wh.metaSeries).listFiles()
      .count(_.getName.endsWith(".parquet"))
    Ingest.ingestWide(spark, wh, wideBatch, "GAS_QUALITY", "ts", Seq("site"))
    val before = metaFiles
    Ingest.ingestWide(spark, wh, wideBatch, "GAS_QUALITY", "ts", Seq("site"))
    Ingest.ingestWide(spark, wh, wideBatch, "GAS_QUALITY", "ts", Seq("site"))
    assert(metaFiles === before, "a no-op ingest appended to meta_series")
    assert(spark.read.parquet(wh.metaSeries).count() === 4)
    // a batch with one new key still lands it
    Ingest.ingestWide(spark, wh, Seq(("2024-01-02 06:00:00", "Bacton", 50.3))
      .toDF("ts", "site", "ch4"), "GAS_QUALITY", "ts", Seq("site"))
    assert(spark.read.parquet(wh.metaSeries).count() === 5)
  }

  test("every ingest path writes exactly the declared Schemas shapes") {
    // the serving path reads each table through its declared schema, so a
    // writer that drifts from it would serve nulls (a column it does not
    // declare is invisible, one it declares but never writes reads null):
    // compare every file's footer, merged, by field name and type
    import graft.warehouse.{Gie, NationalGas, Schemas}
    val wh = Ingest.Warehouse(Files.createTempDirectory("graft-shapes").toString)
    Ingest.ingestWide(spark, wh, wideBatch, "GAS_QUALITY", "ts", Seq("site"))
    NationalGas.ingestEntsog(spark, wh, "2024-05-01", "2024-05-03",
      indicators = Seq("Physical Flow"))
    Gie.ingest(spark, wh, Gie.DatasetAgsi, Gie.SourceAgsi, None)
    def shape(t: org.apache.spark.sql.types.StructType) =
      t.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val drift = Seq(
      wh.rawEvents -> Schemas.rawEvents,
      wh.fieldCatalog -> Schemas.fieldCatalog,
      wh.metaSeries -> Schemas.metaSeries,
      wh.observations -> Schemas.dataObservations,
      Gie.assetsPath(wh) -> Schemas.assets,
      Gie.seriesPath(wh) -> Schemas.gieSeries,
      Gie.dailyPath(wh) -> Schemas.daily).flatMap { case (path, declared) =>
        val written = shape(spark.read.option("mergeSchema", "true").parquet(path).schema)
        val want = shape(declared)
        (written.toSet diff want.toSet).map(f => s"$path writes undeclared $f") ++
          (want.toSet diff written.toSet).map(f => s"$path never writes declared $f")
      }
    assert(drift.isEmpty, drift.mkString("\n"))
  }

  test("readJson + flattenStruct + explodePath reproduce the nested unnest") {
    // shape of the instantaneous-flow response: 2 levels of nesting
    val raw = Seq(
      """{"meta": {"pub": "INSTANTANEOUS"},
         "flows": [{"site": "A", "detail": [{"q": 1.5}, {"q": 2.5}]},
                   {"site": "B", "detail": [{"q": 9.0}]}]}""").toDS()
    val parsed = JsonIngest.readJson(spark, raw)
    val exploded = JsonIngest.explodePath(parsed, "flows.detail")
      .select(col("meta.pub").as("pub"), col("flows.site").as("site"),
        col("detail.q").as("q"))
      .orderBy("site", "q")
    assert(exploded.collect().map(r => (r.getString(1), r.getDouble(2))).toSeq ==
      Seq(("A", 1.5), ("A", 2.5), ("B", 9.0)))

    val flat = JsonIngest.flattenStruct(parsed, "meta")
    assert(flat.columns.contains("meta_pub"))
  }

  test("explodePath explodes intermediate arrays with parents riding along") {
    val raw = Seq(
      """{"id": 7, "flows": [{"site": "A", "detail": [{"q": 1.0}]}]}""").toDS()
    val df = JsonIngest.explodePath(JsonIngest.readJson(spark, raw), "flows.detail")
    val r = df.select("id", "flows.site", "detail.q").head
    assert((r.getLong(0), r.getString(1), r.getDouble(2)) == ((7L, "A", 1.0)))
  }

  test("dateChunks generates the reference 2-day windows") {
    val chunks = graft.sources.JsonIngest
      .dateChunks(spark, "2024-01-01", "2024-01-07", days = 2)
      .orderBy("chunk_start").collect()
      .map(r => (r.getDate(0).toString, r.getDate(1).toString))
    assert(chunks.toSeq == Seq(
      ("2024-01-01", "2024-01-03"),
      ("2024-01-03", "2024-01-05"),
      ("2024-01-05", "2024-01-07")))
  }

  test("landRaw preserves every row as valid JSON with lineage") {
    val landed = JsonIngest.landRaw(wideBatch, "GAS_QUALITY", Some("site"))
    val rows = landed.collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getAs[String]("dataset_id") == "GAS_QUALITY"))
    assert(rows.forall(_.getAs[String]("raw_payload").contains("\"wobbe\"")))
    assert(rows.map(_.getAs[String]("event_id")).distinct.length == 3)
    // payload round-trips through the JSON reader
    val back = spark.read.json(landed.select("raw_payload").as[String])
    assert(back.count() == 3 && back.columns.toSet == Set("ts", "site", "wobbe", "co2"))
  }

  test("exports write capped single-file CSV/JSON and an API JSON array") {
    val dir = Files.createTempDirectory("graft-exp").toString
    val df = Tables.events(spark, sf).select("event_id", "event_type", "value")
    Exports.csv(df, s"$dir/csv", limit = 50)
    Exports.json(df, s"$dir/json", limit = 50)
    assert(spark.read.option("header", "true").csv(s"$dir/csv").count() == 50)
    assert(spark.read.json(s"$dir/json").count() == 50)
    val arr = Exports.jsonArray(df, limit = 5)
    assert(arr.length == 5 && arr.forall(_.startsWith("{")))
  }
}
