package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Explicit schemas for the reference's warehouse tables (SURVEY §1.1),
  * as parquet-backed DataFrames.
  *
  * Reference DDL: `app/db/models.py:24-90`, `db_queries.sql:47-181`.
  * JSONB payloads are carried as raw JSON strings (`get_json_object` /
  * `from_json` on demand); at 100 TB the payload column is only decoded
  * in projections that ask for it, so the scan stays narrow.
  *
  * These declarations are the READ CONTRACT of the serving path: every
  * serving read goes through [[read]] with its table's schema, so Spark
  * plans the scan from the declaration instead of running a one-task
  * footer-inference job per request. A column a file lacks (a table
  * written before the column existed) reads as null. Writers that build
  * a table's rows by hand go through [[conform]], and IngestSpec
  * checks that every ingest path writes exactly these shapes.
  */
object Schemas {

  /** Read the parquet table at `path` through its declared schema. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Project `df` onto `schema`: declared order and types, and a typed
    * null for every declared column `df` does not carry. */
  def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toIndexedSeq.map { f =>
      (if (df.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)
    }: _*)

  /** Series catalog — `meta_series` (`models.py:24-39`). */
  val metaSeries: StructType = StructType(Seq(
    StructField("series_id", StringType, nullable = false),
    StructField("dataset_id", StringType, nullable = false),
    StructField("description", StringType),
    StructField("unit", StringType),
    StructField("frequency", StringType),
    StructField("source", StringType),
    StructField("source_timezone", StringType),
    StructField("is_active", BooleanType, nullable = false),
    StructField("lookback_days", IntegerType)))

  /** Fact table — `data_observations` (`models.py:42-62`); logical PK
    * (series_id, observation_time), enforced by the upsert dedup. */
  val dataObservations: StructType = StructType(Seq(
    StructField("series_id", StringType, nullable = false),
    StructField("observation_time", TimestampType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("quality_flag", StringType),
    StructField("ingestion_time", TimestampType, nullable = false),
    StructField("raw_payload", StringType)))

  /** Zero-loss landing zone — `raw_events` (`models.py:65-74`). */
  val rawEvents: StructType = StructType(Seq(
    StructField("event_id", StringType, nullable = false),
    StructField("dataset_id", StringType, nullable = false),
    StructField("series_hint", StringType),
    StructField("raw_payload", StringType, nullable = false),
    StructField("ingested_at", TimestampType, nullable = false)))

  /** Inferred field registry — `field_catalog` (`models.py:78-90`). */
  val fieldCatalog: StructType = StructType(Seq(
    StructField("dataset_id", StringType, nullable = false),
    StructField("field_name", StringType, nullable = false),
    StructField("inferred_type", StringType),
    StructField("nullable", BooleanType),
    StructField("example_value", StringType)))

  /** GIE dimension — `meta.assets` (`db_queries.sql:148-156`). */
  val assets: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("asset_name", StringType, nullable = false),
    StructField("country", StringType),
    StructField("asset_type", StringType),
    StructField("level", StringType),
    StructField("quality", StringType)))

  /** GIE series dimension — `meta.series` (`db_queries.sql:159-172`). */
  val gieSeries: StructType = StructType(Seq(
    StructField("series_id", LongType, nullable = false),
    StructField("asset_id", LongType, nullable = false),
    StructField("variable", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("unit", StringType),
    StructField("series_unique_concat", StringType, nullable = false)))

  /** GIE daily fact — `energy.daily` (`db_queries.sql:175-181`), plus
    * the series' `asset_id` carried on the fact so the star read joins
    * the asset dimension without going through `meta.series`. */
  val daily: StructType = StructType(Seq(
    StructField("value_date", DateType, nullable = false),
    StructField("series_id", LongType, nullable = false),
    StructField("asset_id", LongType, nullable = false),
    StructField("value", DoubleType)))
}
