package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.JsonIngest

/** The reference's remaining per-dataset ingest paths
  * (`app/ingestion/run_all.py:44-68` dispatching to
  * `national_gas_client.py` fetches and `transformer.py` transforms) as
  * set-oriented Spark — ENTSOG operational data, the instantaneous-flow
  * nested feed, gas-day publications, and the publication catalogue.
  *
  * Each ingest is the same five-stage DAG as [[Ingest.ingestWide]]
  * (land raw → discover fields → register series → normalize →
  * LWW-upsert), differing only in the dataset's series-key columns and
  * value/time/quality fields — so the shared core here is ONE function
  * ([[ingestLong]]) and each dataset contributes a transform that turns
  * its payload into long rows. The reference instead loops Python per
  * series over the full frame (`run_all.py:91-108`: O(series × rows));
  * every path below is one pass whatever the series count.
  *
  * Fetches are deterministic-stub by default and live-HTTP when a url
  * is given, under the reference's exact retry policy (total=5,
  * backoff ×2 on 429/5xx — `national_gas_client.py:23-34`) — the same
  * contract as [[Gie.fetch]] and the chunked REST source.
  */
object NationalGas {

  val DatasetEntsog = "ENTSOG"
  val DatasetInstantaneous = "INSTANTANEOUS_FLOW"
  val DatasetPublications = "GAS_PUBLICATIONS"

  // ------------------------------------------------------------------ fetch

  private def httpGet(url: String): String = {
    val policy = graft.sources.HttpRetry.Policy()
    val retryOn = policy.retryOn + graft.sources.HttpTransport.IoFailureStatus
    graft.sources.HttpRetry.withRetries(policy.copy(retryOn = retryOn)) {
      _ => graft.sources.HttpTransport.get(url)
    }
  }

  /** `national_gas_client.py:125-189`: ENTSOG operationaldatas GET. The
    * stub covers every transform branch: parseable values, blank values
    * (skipped), a non-numeric value (skipped), and a flowStatus quality
    * flag. Values are pure functions of (day, indicator, point,
    * direction), so a DuckDB twin can reproduce them. */
  def fetchEntsog(fromDate: String, toDate: String,
                  operatorKeys: Seq[String] = Nil, pointKeys: Seq[String] = Nil,
                  directionKeys: Seq[String] = Nil, indicators: Seq[String] = Nil,
                  url: Option[String] = None): String = url match {
    case Some(u) => httpGet(u)
    case None =>
      // client.py:139-144's hard validation — ENTSOG 500s otherwise
      require(indicators.nonEmpty || (pointKeys.nonEmpty && directionKeys.nonEmpty),
        "ENTSOG requires at least one of: 1) indicator 2) pointKey + directionKey")
      val allIndicators = Seq("Physical Flow", "Nomination")
      val allPoints = Seq("ITP-00043", "ITP-00091")
      val allDirections = Seq("entry", "exit")
      val allOperators = Seq("UK-TSO-0001", "BE-TSO-0001")
      // the reference normalizes "Physical Flow" → "PhysicalFlow" before
      // sending (client.py:163-165); the stub accepts both spellings
      val wantInd = indicators.map(_.replace(" ", ""))
      val days = dayRange(fromDate, toDate)
      val recs = for {
        (op, oi) <- allOperators.zipWithIndex
        if operatorKeys.isEmpty || operatorKeys.contains(op)
        (ind, ii) <- allIndicators.zipWithIndex
        if wantInd.isEmpty || wantInd.contains(ind.replace(" ", ""))
        (pt, pi) <- allPoints.zipWithIndex
        if pointKeys.isEmpty || pointKeys.contains(pt)
        (dir, di) <- allDirections.zipWithIndex
        if directionKeys.isEmpty || directionKeys.contains(dir)
        (day, dayI) <- days.zipWithIndex
      } yield {
        val v =
          if (ii == 1 && di == 1 && dayI == 0) "" // blank → skipped
          else if (pi == 1 && dayI == 1) "n/a" // unparseable → skipped
          else s"${100 + oi * 50 + ii * 10 + pi * 5 + di * 2 + dayI}.25"
        val status = if (dayI % 2 == 0) "Confirmed" else "Provisional"
        s"""{"indicator":"$ind","operatorKey":"$op","pointKey":"$pt",""" +
          s""""directionKey":"$dir","periodFrom":"${day}T06:00:00",""" +
          s""""periodTo":"${day}T06:00:00","value":"$v","flowStatus":"$status"}"""
      }
      s"""{"operationaldatas":[${recs.mkString(",")}]}"""
  }

  /** `national_gas_client.py:193-222`: the 3-level nested
    * instantaneous-flow feed (`instantaneousFlow[] → sites[] →
    * siteGasDetail[]`). */
  def fetchInstantaneous(url: Option[String] = None): String = url match {
    case Some(u) => httpGet(u)
    case None =>
      val sites = Seq("St Fergus", "Bacton IP", "Easington")
      val times = Seq("2024-04-01T05:00:00", "2024-04-01T05:12:00")
      def block(bi: Int): String = {
        val ss = sites.zipWithIndex.map { case (name, si) =>
          val details = times.zipWithIndex.map { case (t, ti) =>
            val flow = if (si == 2 && ti == 0 && bi == 1) "null"
                       else s"${30 + bi * 10 + si * 3 + ti}.5"
            s"""{"applicableAt":"$t","flowRate":$flow,""" +
              s""""qualityIndicator":"${if (ti == 0) "L" else "E"}",""" +
              s""""scheduleTime":"2024-04-01T0${4 + bi}:55:00"}"""
          }
          s"""{"siteName":"$name","siteGasDetail":[${details.mkString(",")}]}"""
        }
        s"""{"sites":[${ss.mkString(",")}]}"""
      }
      s"""{"instantaneousFlow":[${block(0)},${block(1)}]}"""
  }

  /** `national_gas_client.py:232-262`: gas-day publication values for a
    * list of publication ids. */
  def fetchPublications(fromDate: String, toDate: String,
                        publicationIds: Seq[String],
                        url: Option[String] = None): String = url match {
    case Some(u) => httpGet(u)
    case None =>
      require(publicationIds.nonEmpty, "publication_ids is required")
      val days = dayRange(fromDate, toDate)
      val pubs = publicationIds.zipWithIndex.map { case (pid, pi) =>
        val entries = days.zipWithIndex.map { case (day, di) =>
          val v = if (pi == 0 && di == 0) " " // blank-like → skipped
                  else s"${400 + pi * 20 + di}.75"
          s"""{"applicableFor":"${day}T00:00:00","value":"$v",""" +
            s""""qualityIndicator":"${if (di % 2 == 0) "A" else "E"}",""" +
            s""""generatedTimeStamp":"${day}T02:30:00"}"""
        }
        s"""{"publicationId":"$pid","publicationName":"Publication $pid",""" +
          s""""publications":[${entries.mkString(",")}]}"""
      }
      s"""[${pubs.mkString(",")}]"""
  }

  /** `national_gas_client.py:225-229` + `ingestion.py:104-130`: the
    * publication catalogue — a 3-level nest (`data[] → subCategory[] →
    * catalogueEntries[]`) with entries missing publicationId that must
    * be dropped. */
  def fetchCatalogue(url: Option[String] = None): String = url match {
    case Some(u) => httpGet(u)
    case None =>
      """{"data":[
        |  {"category":"Demand","subCategory":[
        |    {"name":"Daily","catalogueEntries":[
        |      {"publicationId":"PUBOB28","name":"Gas demand actual"},
        |      {"publicationId":"PUBOB29","name":"Gas demand forecast"}]},
        |    {"name":"Within-day","catalogueEntries":[
        |      {"name":"unpublished draft"}]}]},
        |  {"category":"Supply","subCategory":[
        |    {"name":"Daily","catalogueEntries":[
        |      {"publicationId":"PUBOB85","name":"Aggregate supply"}]}]}
        |]}""".stripMargin
  }

  private def dayRange(from: String, to: String): Seq[String] = {
    val f = java.time.LocalDate.parse(from)
    val t = java.time.LocalDate.parse(to)
    Iterator.iterate(f)(_.plusDays(1)).takeWhile(!_.isAfter(t))
      .map(_.toString).toSeq
  }

  // -------------------------------------------------------------- transforms

  /** The catalogue triple unnest (`ingestion.py:113-128`): `data[] →
    * subCategory[] → catalogueEntries[]`, null-publicationId entries
    * dropped — the S5 operator on the serving edge. */
  def catalogue(s: SparkSession, rawJson: String): DataFrame = {
    import s.implicits._
    val parsed = JsonIngest.readJson(s, Seq(rawJson).toDS())
    JsonIngest.explodePath(parsed, "data.subCategory.catalogueEntries")
      .select(col("catalogueEntries.publicationId").as("publicationId"),
        col("catalogueEntries.name").as("name"))
      .filter(col("publicationId").isNotNull)
  }

  /** ENTSOG records → long rows (`pd.json_normalize(records)`,
    * `client.py:189`). */
  private[warehouse] def entsogRows(s: SparkSession, rawJson: String): DataFrame = {
    import s.implicits._
    val parsed = JsonIngest.readJson(s, Seq(rawJson).toDS())
    require(parsed.columns.contains("operationaldatas"),
      s"Invalid ENTSOG response keys: ${parsed.columns.mkString(",")}") // client.py:176-178
    JsonIngest.explodePath(parsed, "operationaldatas")
      .select(col("operationaldatas.*"))
  }

  /** Instantaneous-flow nest → long rows — the reference's 3-level
    * Python loop (`client.py:207-222`) as one explode chain (S3). */
  private[warehouse] def instantaneousRows(s: SparkSession, rawJson: String): DataFrame = {
    import s.implicits._
    val parsed = JsonIngest.readJson(s, Seq(rawJson).toDS())
    JsonIngest.explodePath(parsed, "instantaneousFlow.sites.siteGasDetail")
      .select(col("sites.siteName").as("siteName"),
        col("siteGasDetail.applicableAt").as("applicableAt"),
        col("siteGasDetail.flowRate").as("flowRate"),
        col("siteGasDetail.qualityIndicator").as("qualityIndicator"),
        col("siteGasDetail.scheduleTime").as("scheduleTime"))
  }

  /** Publication response → long rows (`client.py:246-262`; the
    * top-level JSON array parses to one row per publication). */
  private[warehouse] def publicationRows(s: SparkSession, rawJson: String): DataFrame = {
    import s.implicits._
    val parsed = JsonIngest.readJson(s, Seq(rawJson).toDS())
    JsonIngest.explodePath(parsed, "publications")
      .select(col("publicationId"), col("publicationName"),
        col("publications.applicableFor").as("applicableFor"),
        col("publications.value").as("value"),
        col("publications.qualityIndicator").as("qualityIndicator"),
        col("publications.generatedTimeStamp").as("generatedTimeStamp"))
  }

  // ----------------------------------------------------------------- ingest

  /** Shared five-stage core over normalized long rows: one raw row per
    * long row (`raw_ingestor.py:30-43`), incremental field discovery,
    * one anti-join series registration, and the LWW observation upsert
    * with each observation carrying its source row's JSON
    * (`transformer.py`'s clean_json_payload on every record).
    *
    * @param keyCols        natural-key columns (dropna + distinct, the
    *                       reference's dropna().drop_duplicates())
    * @param extraSlugParts literal slug parts appended after the key
    *                       columns (e.g. INSTANTANEOUS_FLOW's FLOWRATE)
    * @param description    description column for newly registered series
    */
  private def ingestLong(s: SparkSession, wh: Ingest.Warehouse, long: DataFrame,
                         dataset: String, keyCols: Seq[String],
                         extraSlugParts: Seq[String],
                         timeCol: String, valueCol: String,
                         qualityCol: Option[String],
                         description: Column,
                         frequency: String): Unit = {
    val slugParts = keyCols.map(col) ++ extraSlugParts.map(lit(_))
    // full-row JSON serialized ONCE into the cached batch (see
    // Ingest.ingestWide — raw landing, discovery and the observation
    // payload all reuse it instead of re-running to_json per consumer).
    // Fail loudly on a column collision: withColumn would silently
    // REPLACE an incoming __raw_payload, dropping it from the payload
    // and from field discovery (silent data loss on an API that ever
    // grows such a field).
    require(!long.columns.contains("__raw_payload"),
      "ingestLong: incoming batch already carries __raw_payload")
    val batch = long.withColumn("__raw_payload",
      to_json(struct(long.columns.map(col).toIndexedSeq: _*))).cache()
    try {
      // (1) zero-loss raw landing + (2) field discovery
      JsonIngest.landRaw(batch, dataset, None, Some("__raw_payload"))
        .write.mode("append").parquet(wh.rawEvents)
      Ingest.mergeFieldCatalog(s, wh, batch, dataset, Some("__raw_payload"))

      // (3) series registration: distinct key tuple → slug → anti-join
      val keyed = keyCols.foldLeft(batch)((df, c) => df.filter(col(c).isNotNull))
      val series = keyed.select(keyCols.map(col): _*).distinct()
        .withColumn("series_id",
          Normalize.makeSeriesId(lit(dataset), slugParts: _*))
        .withColumn("description", description)
        // unit/frequency: the reference's autoregister defaults
        // (series_autoregister.py:49-50,88-89,119-120,149-150)
        .select(col("series_id"), lit(dataset).as("dataset_id"),
          col("description"), lit("UNKNOWN").as("unit"),
          lit(frequency).as("frequency"), lit(true).as("is_active"))
      Upsert.insertIfAbsent(s, wh.metaSeries,
        Schemas.conform(series, Schemas.metaSeries), Seq("series_id"))

      // (4)+(5) normalize + upsert: blank → skip, unparseable → skip
      // (transformer.py:80-86), lenient time parse, raw payload per row
      val obs = keyed
        .withColumnRenamed("__raw_payload", "raw_payload")
        .withColumn("series_id",
          Normalize.makeSeriesId(lit(dataset), slugParts: _*))
        .withColumn("observation_time", try_to_timestamp(col(timeCol)))
        .withColumn("value", Normalize.safeDouble(col(valueCol)))
        .filter(col("value").isNotNull && !isnan(col("value")) &&
          col("observation_time").isNotNull)
        .withColumn("quality_flag",
          qualityCol.map(col).getOrElse(lit(null)).cast("string"))
        .withColumn("ingestion_time", current_timestamp())
        .select("series_id", "observation_time", "value", "quality_flag",
          "ingestion_time", "raw_payload")
      Upsert.upsert(s, wh.observations, obs,
        keys = Seq("series_id", "observation_time"), versionCol = "ingestion_time")
    } finally batch.unpersist()
  }

  /** `ingest_dataset("ENTSOG", …)`: series key (indicator, pointKey,
    * directionKey), time periodFrom, quality flowStatus
    * (`transformer.py:46-98`, `series_autoregister.py:63-100`). */
  def ingestEntsog(s: SparkSession, wh: Ingest.Warehouse,
                   fromDate: String, toDate: String,
                   operatorKeys: Seq[String] = Nil, pointKeys: Seq[String] = Nil,
                   directionKeys: Seq[String] = Nil, indicators: Seq[String] = Nil,
                   url: Option[String] = None): Unit = {
    val raw = fetchEntsog(fromDate, toDate, operatorKeys, pointKeys,
      directionKeys, indicators, url)
    // the transformer re-applies the date window on periodFrom
    // (transformer.py:69-75) — keep it even though the stub already
    // honors the fetch params (a live API may over-return)
    val rows = entsogRows(s, raw)
      .filter(try_to_timestamp(col("periodFrom"))
        .between(lit(s"${fromDate}T00:00:00").cast("timestamp"),
          lit(s"${toDate}T23:59:59").cast("timestamp")))
    ingestLong(s, wh, rows, DatasetEntsog,
      keyCols = Seq("indicator", "pointKey", "directionKey"),
      extraSlugParts = Nil,
      timeCol = "periodFrom", valueCol = "value",
      qualityCol = Some("flowStatus"),
      description = concat(col("indicator"), lit(" at "), col("pointKey"),
        lit(" ("), col("directionKey"), lit(")")),
      frequency = "daily")
  }

  /** `ingest_dataset("INSTANTANEOUS_FLOW")`: series key (siteName,
    * "FLOWRATE"), time applicableAt (`transformer.py:105-131`,
    * `series_autoregister.py:104-131`). */
  def ingestInstantaneous(s: SparkSession, wh: Ingest.Warehouse,
                          url: Option[String] = None): Unit = {
    val rows = instantaneousRows(s, fetchInstantaneous(url))
    ingestLong(s, wh, rows, DatasetInstantaneous,
      keyCols = Seq("siteName"), extraSlugParts = Seq("FLOWRATE"),
      timeCol = "applicableAt", valueCol = "flowRate",
      qualityCol = Some("qualityIndicator"),
      description = concat(lit("Instantaneous Flow at "), col("siteName")),
      frequency = "intraday")
  }

  /** `ingest_dataset("GAS_PUBLICATIONS", …)`: series key
    * (publicationId), time applicableFor (`transformer.py:137-163`,
    * `series_autoregister.py:134-161`). */
  def ingestPublications(s: SparkSession, wh: Ingest.Warehouse,
                         fromDate: String, toDate: String,
                         publicationIds: Seq[String],
                         url: Option[String] = None): Unit = {
    val rows = publicationRows(s,
      fetchPublications(fromDate, toDate, publicationIds, url))
    ingestLong(s, wh, rows, DatasetPublications,
      keyCols = Seq("publicationId"), extraSlugParts = Nil,
      timeCol = "applicableFor", valueCol = "value",
      qualityCol = Some("qualityIndicator"),
      description = concat(lit("Publication "), col("publicationId")),
      frequency = "daily")
  }
}
