package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Caches
import graft.functions.Hashing
import graft.io.Sources
import graft.ops.{Augment, Calibration, Features, Split}

/** The reference pipeline end-to-end as ONE lazy plan — the drop-in
  * equivalent of main.main(use_augmentation=True) (main.py:24-134):
  *
  *  1. ground-truth CSV + derived dates        (data_loader.py:77-91)
  *  2. scene tensors + station lists + MTL     (data_loader.py:109-168)
  *  3. radiometric calibration DN→rad→BT       (data_processor.py:54-127)
  *  4. per-(scene,station) 365-wide features   (feature_extractor.py:17-125)
  *  5. exact-count 80/20 split                 (feature_extractor.py:128-172)
  *  6. train-only 4× rotation augmentation     (data_augmentation.py:137-239)
  *
  * Unlike the reference (seven eagerly-materialized stages, deepcopy between
  * them), stages 1–4 fuse into one whole-stage-codegen'd scan→join→explode→
  * project plan; only the split's registered frames (its range-partitioned
  * input and, with augmentation, the split itself, both built when
  * registered) and the final action materialize.
  */
object Pipeline {

  final case class Config(
      fixturesDir: String = "/root/repo/fixtures",
      trainFraction: Double = 0.8,
      seed: Long = 42L,
      augment: Boolean = true)

  /** Stages 1–4: the labeled 365-wide feature frame. */
  def features(spark: SparkSession, cfg: Config = Config()): DataFrame = {
    val dir = cfg.fixturesDir
    val scenes = Sources.scenes(spark, s"$dir/scenes/scenes.jsonl")
    val stations = Sources.stationLists(spark, s"$dir/stations")
    val metadata = Sources.metadata(spark, s"$dir/metadatas")
    val gt = Sources.groundTruths(spark, s"$dir/ground_truths.csv")
    val catalog = Sources.stationCatalog(spark, s"$dir/stations_catalog.csv")

    val meta = "LANDSAT_METADATA_FILE"
    val resc = col(s"$meta.LEVEL1_RADIOMETRIC_RESCALING")
    val thermal = col(s"$meta.LEVEL1_THERMAL_CONSTANTS")
    val k1 = coalesce(thermal.getField("K1_CONSTANT_BAND_6"),
      thermal.getField("K1_CONSTANT_BAND_10")).cast("double")
    val k2 = coalesce(thermal.getField("K2_CONSTANT_BAND_6"),
      thermal.getField("K2_CONSTANT_BAND_10")).cast("double")

    val aligned = Sources.alignScenes(scenes, stations, metadata)
    val calibrated = Features.requireMetadata(aligned, meta)
      .filter(Calibration.validBandCount(col("bands")))
      .withColumn("is_l5", Calibration.isLandsat5(col("bands")))
      .withColumn("mult", slice(Calibration.coeffArray(resc, "RADIANCE_MULT", 11),
        lit(1), size(col("bands"))))
      .withColumn("add", slice(Calibration.coeffArray(resc, "RADIANCE_ADD", 11),
        lit(1), size(col("bands"))))
      .withColumn("k1", k1).withColumn("k2", k2)
      .withColumn("rad", Calibration.radiance(col("bands"), col("mult"), col("add")))
      .withColumn("bt", Calibration.withBrightnessTemperature(
        col("rad"), col("is_l5"), col("k1"), col("k2")))
      .withColumn("bands7", Calibration.gatherBands(col("bt"), col("is_l5")))
      .withColumn("mult7", Calibration.gatherCoeffs(col("mult"), col("is_l5")))
      .withColumn("add7", Calibration.gatherCoeffs(col("add"), col("is_l5")))

    val samples = Features.explodeSamples(Features.withSceneDate(calibrated))
    val gtJoined = Features.joinGroundTruth(samples, Features.firstMatchGroundTruths(gt))
    val clean = Features.dropSentinel(gtJoined)
    val withGeo = Features.joinStationCatalog(clean, catalog)

    withGeo
      .withColumn("features", Calibration.assembleFeatures(
        col("bands7"), col("mult7"), col("add7"), col("k1"), col("k2"),
        col("is_l5"), col("longitude"), col("latitude"),
        col("year"), col("month"), col("day")))
      .select("scene_id", "station_id", "station_pos", "bands7",
        "longitude", "latitude", "year", "month", "day", "features", "air_temp")
  }

  /** Stages 5–6: deterministic exact split, then 4× augmentation of the
    * train rows only (test rows pass through with aug_k = 0).
    */
  def trainTest(spark: SparkSession, cfg: Config = Config()): DataFrame = {
    val f = features(spark, cfg)
      .withColumn("sample_key",
        Hashing.polyHash(concat_ws("|", col("scene_id"), col("station_id"))))
    val split = Split.exact(f, "sample_key", cfg.trainFraction, cfg.seed)
    if (!cfg.augment) split.withColumn("aug_k", lit(0))
    else {
      // Registered: the train and test branches both read the split, and the
      // split's global row-number sort should run once, not per branch; the
      // caller's Caches.releaseAll drops it.
      val s = Caches.persisted(split)
      val train = Augment.fanOut4(
        s.filter(col("is_train") === 1), "sample_key", cfg.seed)
      val test = s.filter(col("is_train") === 0).withColumn("aug_k", lit(0))
      train.select(test.columns.map(col): _*).unionByName(test)
    }
  }
}
