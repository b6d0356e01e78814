package graft.io

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source readers for the reference pipeline's five input shapes
  * (SURVEY.md §2.1, S1–S6). All readers return schema'd DataFrames; alignment
  * (S6) is expressed as lazy joins, never a driver-side loop.
  *
  * Reference analogs: data_loader.py:77-91 (ground-truth CSV),
  * data_loader.py:15-28 (station list text), data_loader.py:31-42 (MTL JSON),
  * data_loader.py:128-135 (tensor load), data_loader.py:109-168 (alignment).
  */
object Sources {

  val groundTruthSchema: StructType = StructType(Seq(
    StructField("utc_date", DateType),
    StructField("station_id", IntegerType),
    StructField("air_temp", DoubleType)))

  val stationCatalogSchema: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("name", StringType),
    StructField("longitude", DoubleType),
    StructField("latitude", DoubleType)))

  /** Scene tensors: one row per scene, bands as nested arrays (band × pixel).
    * 7×7 windows flattened to 49 doubles per band — the int32→float64 cast of
    * data_loader.py:131 / data_processor.py:92 happens here, at the edge.
    */
  val sceneSchema: StructType = StructType(Seq(
    StructField("scene_id", StringType),
    StructField("bands", ArrayType(ArrayType(DoubleType)))))

  /** S1: ground-truth CSV scan + derived date columns (P1). */
  def groundTruths(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(groundTruthSchema).csv(path)
      .withColumn("year", year(col("utc_date")))
      .withColumn("month", month(col("utc_date")))
      .withColumn("day", dayofmonth(col("utc_date")))

  /** Station dimension (config.py:34-204 analog). Tiny: always broadcast. */
  def stationCatalog(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(stationCatalogSchema).csv(path)

  /** Reader for a directory of per-scene files (one file per scene), kept
    * to the leaf names matching `leafGlob`. The directory is the only root
    * path, so the driver lists it in one call. A glob path (the directory
    * joined with `*_stations.txt`) expands to one root path per file
    * instead, and past `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (32) root paths Spark lists them in a "Listing leaf files" job with
    * one task per file: two such jobs, one task per scene each, on every
    * execution of the aligned pipeline. Same idiom as `Tables.streamT`.
    *
    * Both forms read the files directly under the directory and skip a
    * nested plain subdirectory. They differ on a `key=value` subdirectory:
    * the directory form takes it as a partition, adds the column `key` and
    * reads only the files under it (SourcesListingSpec pins this). The
    * per-scene directories hold no such subdirectory.
    */
  private def perSceneFiles(spark: SparkSession, leafGlob: String) =
    spark.read.option("pathGlobFilter", leafGlob)

  /** S4: custom text scan — per-scene station list files shaped
    * `"[33, 35, 36]"`. Directory scan with a leaf-name filter (S2, see
    * [[perSceneFiles]]) + `input_file_name` recovers the scene id from the
    * path; bracket-strip + split + cast parses the payload.
    */
  def stationLists(spark: SparkSession, dir: String): DataFrame = {
    val raw = perSceneFiles(spark, "*_stations.txt").text(dir)
      .withColumn("file", input_file_name())
    raw
      .withColumn("scene_id",
        regexp_extract(col("file"), "([^/]+)_stations\\.txt$", 1))
      .withColumn("stations",
        expr("transform(filter(split(regexp_replace(value, '[\\\\[\\\\]]', ''), ',\\\\s*')," +
          " x -> x != ''), x -> cast(trim(x) as int))"))
      .select("scene_id", "stations")
  }

  /** Explicit MTL schema: union of the L5 (bands 1-7, K-BAND_6) and L8/9
    * (bands 1-11, K-BAND_10) layouts, every leaf a string (sci-notation
    * numerics are cast downstream, F3). Fields are alphabetical — the order
    * schema inference would produce. Pinning the schema saves a full
    * inference pass over the JSON files on EVERY query that touches
    * metadata, and is the only scale-sane option anyway: inference at
    * 100 TB reads the corpus twice.
    */
  val mtlSchema: StructType = {
    val rescaling = StructType(
      (for (kind <- Seq("ADD", "MULT"); b <- Seq(1, 10, 11, 2, 3, 4, 5, 6, 7, 8, 9))
        yield StructField(s"RADIANCE_${kind}_BAND_$b", StringType)).sortBy(_.name))
    val thermal = StructType(Seq(
      StructField("K1_CONSTANT_BAND_10", StringType),
      StructField("K1_CONSTANT_BAND_6", StringType),
      StructField("K2_CONSTANT_BAND_10", StringType),
      StructField("K2_CONSTANT_BAND_6", StringType)))
    val attrs = StructType(Seq(
      StructField("DATE_ACQUIRED", StringType),
      StructField("SPACECRAFT_ID", StringType)))
    StructType(Seq(StructField("LANDSAT_METADATA_FILE", StructType(Seq(
      StructField("IMAGE_ATTRIBUTES", attrs),
      StructField("LEVEL1_RADIOMETRIC_RESCALING", rescaling),
      StructField("LEVEL1_THERMAL_CONSTANTS", thermal))))))
  }

  /** S3: nested multiline MTL metadata JSON, one file per scene; scene id
    * recovered from the file name. Numeric coefficient values arrive as
    * strings (sci-notation) and are cast downstream (F3).
    */
  def metadata(spark: SparkSession, dir: String): DataFrame =
    perSceneFiles(spark, "*_MTL_metadata.json")
      .option("multiLine", "true").schema(mtlSchema)
      .json(dir)
      .withColumn("scene_id",
        regexp_extract(input_file_name(), "([^/]+)_MTL_metadata\\.json$", 1))

  /** Scene tensors from JSONL (the engine's parquet/JSON form of the `.pt`
    * ingest, S5 — binary decode happens once at ingest, see Multimodal).
    */
  def scenes(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(sceneSchema).json(path)

  /** S6: multi-source alignment. The reference drops a scene when any source
    * is missing (try/except + continue) — that is inner-join semantics across
    * the three per-scene sources.
    *
    * `skipFirst` is the compat form of the reference's `skip_first=True`
    * (data_loader.py:110,125; README.md:132), which drops the first entry of
    * the SORTED tensor list. The deterministic distributed analog is "drop
    * the minimum scene_id": a 1-row min aggregate broadcast against the
    * frame — lazy, no driver action, no global sort. Default off: it is a
    * notebook-workflow quirk, not a semantic requirement.
    */
  def alignScenes(scenes: DataFrame, stationLists: DataFrame, metadata: DataFrame,
      skipFirst: Boolean = false): DataFrame = {
    val base =
      if (!skipFirst) scenes
      else scenes
        .crossJoin(broadcast(scenes.agg(min(col("scene_id")).as("_first"))))
        .filter(col("scene_id") =!= col("_first"))
        .drop("_first")
    base
      .join(stationLists, Seq("scene_id"), "inner")
      .join(metadata, Seq("scene_id"), "inner")
  }

  /** S5: binary blob scan (multimodal/tensor ingest edge). Returns path,
    * length, modTime, content. Decode to typed tensors is an ingest-time
    * concern (Multimodal.scala); the engine core reads columnar forms.
    */
  def binaryBlobs(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)

  /** S7: sink. Parquet for engine-internal, CSV for the compat edge. */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)
}
