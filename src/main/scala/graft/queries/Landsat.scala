package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.engine.Session
import graft.functions.Hashing
import graft.io.Sources
import graft.ops.{Augment, Calibration, Features, Multimodal, Split}
import Tables.{t, FixturesDir}

/** The reference pipeline's operator surface (SURVEY.md §2) as declared,
  * oracle-checked queries over the committed fixtures (which mirror the
  * reference's source formats) and the testdata tables.
  */
object Landsat {

  type Q = (SparkSession, String) => DataFrame

  // ---- shared Spark-side builders ----------------------------------------

  private def fx(spark: SparkSession): SparkSession = Session.prepare(spark)

  private def scenesDf(s: SparkSession) =
    Sources.scenes(s, s"$FixturesDir/scenes/scenes.jsonl")
  private def stationListsDf(s: SparkSession) =
    Sources.stationLists(s, s"$FixturesDir/stations")
  private def metadataDf(s: SparkSession) =
    Sources.metadata(s, s"$FixturesDir/metadatas")
  private def gtDf(s: SparkSession) =
    Sources.groundTruths(s, s"$FixturesDir/ground_truths.csv")
  private def catalogDf(s: SparkSession) =
    Sources.stationCatalog(s, s"$FixturesDir/stations_catalog.csv")

  private val meta = "LANDSAT_METADATA_FILE"
  private def resc = col(s"$meta.LEVEL1_RADIOMETRIC_RESCALING")
  private def thermal = col(s"$meta.LEVEL1_THERMAL_CONSTANTS")
  private def k1Col =
    coalesce(thermal.getField("K1_CONSTANT_BAND_6"),
      thermal.getField("K1_CONSTANT_BAND_10")).cast("double")
  private def k2Col =
    coalesce(thermal.getField("K2_CONSTANT_BAND_6"),
      thermal.getField("K2_CONSTANT_BAND_10")).cast("double")

  /** scenes ⋈ metadata → calibrated, BT-substituted, 7-band-gathered tensor
    * (M1→M4 with P4/P5 filters). Columns: scene_id, is_l5, bands7, mult,
    * add, k1, k2.
    */
  private def calibrated(s: SparkSession): DataFrame = {
    val joined = scenesDf(s).join(metadataDf(s), Seq("scene_id"), "inner")
    val base = Features.requireMetadata(joined, meta)
      .filter(Calibration.validBandCount(col("bands")))
      .withColumn("is_l5", Calibration.isLandsat5(col("bands")))
      .withColumn("mult",
        slice(Calibration.coeffArray(resc, "RADIANCE_MULT", 11), lit(1), size(col("bands"))))
      .withColumn("add",
        slice(Calibration.coeffArray(resc, "RADIANCE_ADD", 11), lit(1), size(col("bands"))))
      .withColumn("k1", k1Col).withColumn("k2", k2Col)
    base
      .withColumn("rad", Calibration.radiance(col("bands"), col("mult"), col("add")))
      .withColumn("bt", Calibration.withBrightnessTemperature(
        col("rad"), col("is_l5"), col("k1"), col("k2")))
      .withColumn("bands7", Calibration.gatherBands(col("bt"), col("is_l5")))
  }

  /** scenes ⋈ station lists → per-(scene, station) samples with parsed scene
    * date + GT left join + −9999 fill (G1/J3 + P2 + J1).
    */
  private def gtJoined(s: SparkSession): DataFrame = {
    val scenes = scenesDf(s).join(stationListsDf(s), Seq("scene_id"), "inner")
    val samples = Features.explodeSamples(Features.withSceneDate(scenes))
      .drop("bands")
    val gtd = Features.firstMatchGroundTruths(gtDf(s))
    Features.joinGroundTruth(samples, gtd)
  }

  /** Sum of array elements (left-to-right double fold). */
  private def arrSum(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x)

  /** Σ a[i]·(i+1) — order-sensitive checksum of an array. */
  private def arrDot(a: Column): Column =
    aggregate(zip_with(a, sequence(lit(1), size(a)), (x, i) => x * i.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  // ---- queries -----------------------------------------------------------

  val queries: Map[String, Q] = Map(

    // S1+P1: ground-truth CSV scan + derived date columns.
    "s1_csv_scan" -> ((s, _) => gtDf(fx(s))),

    // S2+S4: glob scan of station-list text files + bracket/split/cast parse,
    // exploded positionally (also G1's posexplode shape).
    "s4_text_scan" -> ((s, _) =>
      Features.explodeSamples(stationListsDf(fx(s)))
        .select(col("scene_id"), col("station_pos").cast("int").as("station_pos"),
          col("station_id"))),

    // S3+F3+F8: nested multiline JSON metadata scan; sci-notation string →
    // double casts; nested struct field access.
    "s3_json_metadata" -> ((s, _) =>
      metadataDf(fx(s)).select(
        col("scene_id"),
        col(s"$meta.IMAGE_ATTRIBUTES.SPACECRAFT_ID").as("craft"),
        resc.getField("RADIANCE_MULT_BAND_1").cast("double").as("mult1"),
        resc.getField("RADIANCE_ADD_BAND_1").cast("double").as("add1"),
        k1Col.as("k1"), k2Col.as("k2"))),

    // S6: 3-way inner-join alignment; missing metadata drops the scene.
    "s6_align_join" -> ((s, _) =>
      Sources.alignScenes(scenesDf(fx(s)), stationListsDf(s), metadataDf(s))
        .select(col("scene_id"), size(col("bands")).as("nbands"),
          size(col("stations")).as("n_stations"),
          col(s"$meta.IMAGE_ATTRIBUTES.SPACECRAFT_ID").as("craft"))),

    // S5: binary blob scan (ingest edge for tensors / multimodal).
    "s5_binary_scan" -> ((s, _) =>
      Sources.binaryBlobs(fx(s), s"$FixturesDir/binary")
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
          col("length"))),

    // S5 full form: real torch-format .pt ingest (zip + pickle + int32
    // storage, pure JVM) with the reference's permute(1,0,2,3); checksums
    // verified against the generator's sidecar expectations.
    "s5b_pt_ingest" -> ((s, _) => {
      val df = graft.io.TorchTensors.ingest(fx(s), s"$FixturesDir/tensors")
      val flat = flatten(flatten(col("tensor")))
      df.select(col("scene_id"),
        size(element_at(col("tensor"), 1)).as("nbands"),
        size(col("tensor")).as("n_stations"),
        arrSum(flat).cast("long").as("t_sum"),
        arrDot(flat).cast("long").as("t_dot"))
    }),

    // S5 as a real DataSource V2: spark.read.format("graft-pt") — same
    // decode as s5b but with V2 column pruning into the reader and
    // size-packed input partitions. Same oracle (the sidecar expectations).
    "s5c_pt_datasource" -> ((s, _) => {
      val df = fx(s).read.format("graft-pt").load(s"$FixturesDir/tensors")
      val flat = flatten(flatten(col("tensor")))
      df.select(col("scene_id"),
        size(element_at(col("tensor"), 1)).as("nbands"),
        size(col("tensor")).as("n_stations"),
        arrSum(flat).cast("long").as("t_sum"),
        arrDot(flat).cast("long").as("t_dot"))
    }),

    // S5 as incremental ingest: the SAME DataSource V2 table read through
    // its MICRO_BATCH_READ capability (readStream) — each micro-batch
    // decodes exactly the .pt files unseen at the previous offset. Driven
    // to a memory sink; same projection and oracle as s5b/s5c, so the
    // streaming scan must reproduce the batch decode bit-for-bit.
    "s5d_pt_stream" -> ((s, _) => {
      val df = fx(s).readStream.format("graft-pt").load(s"$FixturesDir/tensors")
      val flat = flatten(flatten(col("tensor")))
      val proj = df.select(col("scene_id"),
        size(element_at(col("tensor"), 1)).as("nbands"),
        size(col("tensor")).as("n_stations"),
        arrSum(flat).cast("long").as("t_sum"),
        arrDot(flat).cast("long").as("t_dot"))
      graft.streaming.StreamingWindows.runToMemory(proj, "s5d_mem",
        org.apache.spark.sql.streaming.OutputMode.Append())
    }),

    // S7: sink + re-scan roundtrip (parquet).
    "s7_sink_roundtrip" -> ((s, dir) => {
      val out = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      val tmp = Tables.scratch("s7_sink")
      Sources.writeParquet(out, tmp)
      s.read.parquet(tmp)
    }),

    // S7 under schema evolution: two writer generations land different
    // column sets in the same dataset (the normal life of a training-data
    // lake — fields get added mid-crawl); the scan must stitch them with
    // mergeSchema, nulling the columns each generation lacks. Output pins
    // both the union schema and per-generation null accounting.
    "s8_schema_evolution" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val tmp = Tables.scratch("s8_evo")
      // generation 1: (o_orderkey, o_totalprice); generation 2 adds
      // o_orderpriority and drops o_totalprice.
      ord.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      ord.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy("gen")
        .agg(count(lit(1)).as("n"),
          count(col("o_totalprice")).as("n_price"),
          count(col("o_orderpriority")).as("n_prio"),
          round(sum(coalesce(col("o_totalprice"), lit(0.0))), 2).as("sum_price"))
        .select(col("gen").cast("int").as("gen"), col("n"), col("n_price"),
          col("n_prio"), col("sum_price"))
    }),

    // Partition-pruned scan: documents re-laid-out hive-partitioned by
    // lang, then queried with a partition-key predicate. The predicate
    // never touches file contents — it prunes whole directories at listing
    // time (PlanAudit prints the PartitionFilters line as proof). At 100 TB
    // this is the scan-side complement of bucketing: a date/source/lang
    // partition layout turns most queries' dominant cost (the full-corpus
    // scan) into a listing of the one slice they touch.
    "s9_partition_pruning" -> ((s, dir) => {
      val out = Tables.scratch("s9_part")
      t(s, dir, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    }),

    // S7 in the LLM-corpus interchange format: JSONL sink + re-scan with an
    // explicit schema (schema'd read — no inference pass over the data, the
    // only sane contract at 100 TB). Roundtrip must be lossless: the oracle
    // reads the ORIGINAL table, so the hash match proves write→read
    // identity including the full text bodies.
    "s11_jsonl_roundtrip" -> ((s, dir) => {
      val out = Tables.scratch("s11_jsonl")
      t(s, dir, "documents").write.mode("overwrite").json(out)
      s.read.schema(Tables.DocumentsSchema)
        .json(out)
        .select("doc_id", "text", "lang", "source", "n_chars")
    }),

    // Sort-clustered scan: documents re-laid-out range-partitioned +
    // sorted by n_chars, then queried with a range predicate. Sorting makes
    // parquet row-group min/max stats DISJOINT, so the pushed filter skips
    // whole row groups/files at footer time — the within-partition
    // complement of s9's directory pruning (LayoutSpec proves the scan
    // emits a fraction of the corpus; unsorted layout emits all of it).
    // At 100 TB, sort-clustering on the dominant filter column is the
    // difference between scanning the slice and scanning the lake.
    "s10_sorted_pruning" -> ((s, dir) => {
      val out = Tables.scratch("s10_sorted")
      t(s, dir, "documents")
        .repartitionByRange(8, col("n_chars"))
        .sortWithinPartitions("n_chars")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .filter(col("n_chars") >= 400)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    }),

    // Z-ORDERED layout: events re-laid-out on the Morton interleaving of
    // (user_id, event hour), then hit with a conjunctive 2-D predicate —
    // the "one user cohort, one time window" audit query. s10's
    // single-column sort prunes on ONE dimension and scatters the other;
    // the Morton key keeps row-group min/max narrow on BOTH, so the scan
    // skips on either predicate (ZorderSpec proves the scan fraction).
    // The z-value is layout-only — correctness gates on the read-back
    // rows matching the original table (oracle reads `events` directly).
    "s12_zorder_pruning" -> ((s, dir) => {
      val out = Tables.scratch("s12_zorder")
      val ev = t(s, dir, "events")
      // hour index relative to 2024-01-01T00:00:00Z (events epoch);
      // 10 bits cover ~42 days — out-of-range hours wrap (layout quality
      // only, never correctness).
      val hourIdx = floor((unix_timestamp(col("ts")) - lit(1704067200L))
        / lit(3600L)).cast("long")
      graft.ops.Zorder.writeZordered(ev, col("user_id"), hourIdx,
        bits = 10, numFiles = 8, out)
      s.read.parquet(out)
        .filter(col("user_id").between(40, 59) &&
          col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-13 00:00:00").cast("timestamp"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("sum_value"))
    }),

    // PARQUET BLOOM-FILTER row-group skipping — the point-lookup lever
    // the OTHER layout gates can't provide: s10/s12 need the data SORTED
    // on the filter column, but a hash-shuffled layout's min/max stats
    // span everything and a unique id never dictionary-encodes; a
    // written bloom filter still skips every row group that provably
    // lacks the probed keys (LayoutSpec proves the scan fraction).
    // Gate = the looked-up rows themselves.
    "s14_parquet_bloom" -> ((s, dir) => {
      val out = Tables.scratch("s14_bloom_" + Tables.dirTag(dir))
      t(s, dir, "documents")
        .repartition(8) // hash layout: min/max useless for point lookups
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#doc_id", "true")
        .option("parquet.bloom.filter.expected.ndv#doc_id", "100000")
        .parquet(out)
      s.read.parquet(out)
        .filter(col("doc_id").isin(7L, 123L, 4567L, 49999L))
        .select("doc_id", "lang", "source", "n_chars")
    }),

    // MANIFEST-PINNED SNAPSHOT STORE (io/SnapshotStore.scala) — the
    // transactional-format core: two commits publish two versions; the
    // gate reads BOTH (v1 through its pinned manifest AFTER v2 landed),
    // proving snapshot isolation — the v1 rollup must equal the
    // pre-append slice, untouched by the later commit — and that the
    // manifest rename atomically published the v2 file set (a lost or
    // doubled file flips a checksum).
    "s13_snapshot_read" -> ((s, dir) => {
      val store = Tables.scratch("s13_snap_" + Tables.dirTag(dir))
      graft.io.SnapshotStore.reset(store)
      val d = t(s, dir, "documents").select("doc_id", "n_chars")
      val v1 = graft.io.SnapshotStore.commit(
        d.filter(col("doc_id") < 300), store)
      val v2 = graft.io.SnapshotStore.commit(
        d.filter(col("doc_id") >= 300), store)
      def roll(v: Int) =
        graft.io.SnapshotStore.readVersion(s, store, v)
          .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
            sum("n_chars").as("sum_chars"))
          .select(lit(v).as("version"), col("n_docs"), col("sum_ids"),
            col("sum_chars"))
      roll(v1).unionByName(roll(v2))
    }),

    // P2+F1: scene-id split/substring/cast date parse.
    "p2_scene_date" -> ((s, _) => {
      Features.withSceneDate(scenesDf(fx(s)).select("scene_id"))
    }),

    // J1 (+P6 conjunctive keys, A4 first-match, G1 explode): GT left join
    // with first-match dedup and −9999 fill.
    "j1_gt_join" -> ((s, _) =>
      gtJoined(fx(s)).select("scene_id", "station_id", "air_temp")),

    // P3+A2: sentinel filter then per-scene stats.
    "p3_sentinel_filter" -> ((s, _) =>
      Features.dropSentinel(gtJoined(fx(s)))
        .groupBy("scene_id")
        .agg(count(lit(1)).as("n"), round(avg("air_temp"), 4).as("mean_temp"))),

    // P4+M6: band-count validation + type tag.
    "p4_band_filter" -> ((s, _) =>
      scenesDf(fx(s))
        .filter(Calibration.validBandCount(col("bands")))
        .select(col("scene_id"), size(col("bands")).as("nbands"),
          Calibration.isLandsat5(col("bands")).as("is_l5"))),

    // M1 (scalar form): affine radiance calibration.
    "m1_radiance" -> ((s, dir) =>
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity") * lit(0.7658) + lit(-3.1), 6).as("radiance"))),

    // M2 (scalar form): Landsat-5 brightness temperature (log formula).
    "m2_bt_l5" -> ((s, dir) =>
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        round(Calibration.btL5(col("l_quantity") * lit(0.7658) + lit(3.2),
          lit(607.76), lit(1260.56)), 6).as("bt"))),

    // M3 (scalar form): Landsat-8/9 formula exactly as the reference code
    // computes it (no log; +1 inside the denominator).
    "m3_bt_l8" -> ((s, dir) =>
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        round(Calibration.btL8(col("l_quantity") * lit(0.7658) + lit(3.2),
          lit(774.8853), lit(1321.0789)), 6).as("bt"))),

    // M1–M4 nested: full per-scene calibration over the band tensor.
    "m4_calibrated" -> ((s, _) =>
      calibrated(fx(s)).select(
        col("scene_id"), col("is_l5"),
        size(col("bands7")).as("nbands7"),
        round(arrSum(flatten(col("bands7"))), 4).as("px_sum"),
        round(arrSum(element_at(col("bands7"), 6)), 4).as("thermal_sum"))),

    // M5: 365-wide feature assembly (pixels ++ coeffs ++ [K2,K1] ++ flag ++
    // geo/temporal) over the full sample pipeline (G1+J1+J2+P2+P3).
    "m5_assembly" -> ((s, _) => {
      val cal = calibrated(fx(s))
        .withColumn("mult7", Calibration.gatherCoeffs(col("mult"), col("is_l5")))
        .withColumn("add7", Calibration.gatherCoeffs(col("add"), col("is_l5")))
        .select("scene_id", "bands7", "mult7", "add7", "k1", "k2", "is_l5")
      val samples = Features.dropSentinel(gtJoined(s))
      val withCat = Features.joinStationCatalog(samples, catalogDf(s))
      val full = withCat.join(cal, Seq("scene_id"), "inner")
      full.withColumn("features", Calibration.assembleFeatures(
          col("bands7"), col("mult7"), col("add7"), col("k1"), col("k2"),
          col("is_l5"), col("longitude"), col("latitude"),
          col("year"), col("month"), col("day")))
        .select(col("scene_id"), col("station_id"),
          size(col("features")).as("width"),
          round(arrDot(col("features")), 3).as("f_dot"),
          col("air_temp"))
    }),

    // G3: rot90 as a pure index-permutation expression, k ∈ 0..3 over the
    // first band; order-sensitive checksum proves the permutation.
    "g3_rot90" -> ((s, _) => {
      val base = scenesDf(fx(s))
        .select(col("scene_id"), element_at(col("bands"), 1).as("img"))
        .select(col("*"), explode(array((0 to 3).map(lit(_)): _*)).as("k"))
      base.withColumn("rimg",
          when(col("k") === 0, col("img"))
            .when(col("k") === 1, Augment.rot90(col("img"), 1))
            .when(col("k") === 2, Augment.rot90(col("img"), 2))
            .otherwise(Augment.rot90(col("img"), 3)))
        .select(col("scene_id"), col("k"),
          round(arrDot(col("rimg")), 3).as("checksum"),
          element_at(col("rimg"), 1).as("first_px"))
    }),

    // G2+F6+F7: 4× augmentation fan-out with LCG date jitter and geodesic
    // coordinate shift (closed-form WGS84 meters-per-degree).
    "g2_augment" -> ((s, _) => {
      val base = catalogDf(fx(s))
        .withColumn("year", lit(2006)).withColumn("month", lit(7))
        .withColumn("day", lit(15))
      Augment.fanOutGeo(base, "id", seed = 42L)
        .select(col("id"), col("aug_k"),
          round(col("longitude"), 6).as("lon2"),
          round(col("latitude"), 6).as("lat2"),
          col("day").cast("int").as("day2"),
          col("month").cast("int").as("month2"))
    }),

    // O1: exact-count deterministic 80/20 split (scalable global row number).
    "o1_split_exact" -> ((s, dir) => {
      val orders = t(s, dir, "orders").select("o_orderkey")
      Split.exact(orders, "o_orderkey", 0.8, seed = 42L)
        .select(col("o_orderkey"), col("rn"), col("is_train"))
    }),

    // O10: deterministic seeded epoch shuffle — a reproducible global
    // permutation of the corpus (scalable row number, no global window).
    "o10_shuffle_order" -> ((s, dir) =>
      Split.shuffleOrder(t(s, dir, "documents").select("doc_id"),
          "doc_id", seed = 7L)
        .select(col("doc_id"), col("rn"))),

    // O12: sharded training export — deterministic balanced shards from
    // the o10 shuffle order, written partitionBy(shard) and read BACK for
    // the rollup, so the gate verifies the on-disk export (count + key
    // checksum + first position per shard: nothing lost, duplicated, or
    // misrouted by the write).
    "o12_sharded_export" -> ((s, dir) => {
      val out = Tables.scratch("o12_export")
      Split.shardedExport(t(s, dir, "documents").select("doc_id"), "doc_id",
          nShards = 8, seed = 7L, outDir = out)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          min("rn").as("first_rn"))
    }),

    // F1: string split / slice scalars.
    "f1_string_split" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        split(col("p_name"), " ").getItem(0).as("first_word"),
        substring(col("p_type"), 1, 6).as("type_prefix"),
        upper(col("p_brand")).as("brand_u"))),

    // F2: date parse roundtrip.
    "f2_date_parse" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        to_date(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("parsed"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))),

    // F5: string concat / format.
    "f5_concat" -> ((s, _) =>
      scenesDf(fx(s)).select(col("scene_id"),
        concat(col("scene_id"), lit("_stations.txt")).as("station_file"),
        format_string("scene=%s|bands=%d", col("scene_id"),
          size(col("bands")).cast("long")).as("tag"))),

    // G2 full form: tensor fan-out 1→4 — rot90 on all 7 gathered bands plus
    // LCG-jittered date/coords, per-variant streams keyed by polyhash(scene).
    "g4_augment_tensor" -> ((s, _) => {
      val base = Features.withSceneDate(calibrated(fx(s))
          .select("scene_id", "bands7"))
        .withColumn("longitude", lit(34.5)).withColumn("latitude", lit(31.2))
        .withColumn("key", Hashing.polyHash(col("scene_id")))
      Augment.fanOut4(base, "key", seed = 42L)
        .select(col("scene_id"), col("aug_k"),
          round(arrDot(flatten(col("bands7"))), 3).as("t_dot"),
          col("day").cast("int").as("day2"),
          col("month").cast("int").as("month2"),
          round(col("longitude"), 6).as("lon2"))
    }),

    // Multimodal ingest: binary scan → magic-byte modality sniff (pure
    // Catalyst) → dispatch to the REAL codec; unknown-modality blobs yield
    // NULL features + quarantined=true (no synthetic floats enter the
    // feature column — fake features silently pollute a corpus at scale).
    // Scans binary (all unknown → quarantined) alongside the PNG fixtures
    // (decoded for real) so both dispatch outcomes are hash-gated.
    "mm1_multimodal_ingest" -> ((s, _) => {
      val ingested = Multimodal.ingest(
        Multimodal.scanBlobs(fx(s), s"$FixturesDir/binary",
          s"$FixturesDir/images"), partitions = 4, w = 4, h = 3)
      ingested.select(col("name"), col("length"), col("modality"),
        col("quarantined"),
        // size(null) is -1 under the default legacy conf; quarantined rows
        // must carry NULL feature counts, not a sentinel.
        when(col("features").isNotNull, size(col("features"))).as("n_features"),
        round(aggregate(col("features").cast("array<double>"), lit(0.0),
          (acc, x) => acc + x), 4).as("f_sum"))
    }),

    // Quarantine accounting over every modality fixture dir at once: the
    // sniff routes all four codec families, and the corrupt samples plus
    // unknown blobs land in the per-modality quarantine counts a corpus
    // pipeline reports.
    "mm5_quarantine_count" -> ((s, _) => {
      val ingested = Multimodal.ingest(
        Multimodal.scanBlobs(fx(s), s"$FixturesDir/binary",
          s"$FixturesDir/images", s"$FixturesDir/audio",
          s"$FixturesDir/video"), partitions = 4, w = 4, h = 3)
      Multimodal.quarantineCounts(ingested)
    }),

    // Multimodal image decode — REAL codec (JDK ImageIO), not the stub:
    // scan committed PNG fixtures, decode + resize on executors, emit
    // channel-major normalized features. The fixtures are solid-color
    // images whose name carries the RGB, so the decoded values are
    // analytically known to the oracle — if the codec misdecodes a single
    // channel, the hashes diverge.
    // IMAGE NEAR-DUP DEDUP — the multimodal member of the dedup family:
    // real decode (9×8, the dHash input size — identity resize on the
    // committed gradient fixtures) → 64-bit dHash as pure codegen'd
    // plane arithmetic → banded Hamming pairs (the SimHash plan shape;
    // never all-pairs). Fixture set: an exact duplicate (Hamming 0), a
    // near-duplicate (Hamming 10, caught via a shared band), and
    // distinct images that must NOT pair — incl. one at Hamming 8 with
    // no shared band, pinning the banded-recall boundary honestly.
    "mm6_image_phash" -> ((s, _) => {
      val imgs = Multimodal.ingestImages(
        Multimodal.scanBlobs(fx(s), s"$FixturesDir/images_grad"),
        w = 9, h = 8, partitions = 2)
        .withColumn("phash", Multimodal.dHash64(col("features"), 9, 8))
      Multimodal.phashPairs(imgs, "phash", "name", maxHamming = 16)
        .select(col("id_a").as("name_a"), col("id_b").as("name_b"),
          col("hamming"))
    }),

    "mm2_image_decode" -> ((s, _) => {
      val ingested = Multimodal.ingestImages(
        Multimodal.scanBlobs(fx(s), s"$FixturesDir/images"), w = 4, h = 3,
        partitions = 2)
      ingested.select(col("name"), col("length"),
        size(col("features")).as("n_features"),
        round(element_at(col("features"), 1).cast("double"), 6).as("r0"),
        round(element_at(col("features"), 13).cast("double"), 6).as("g0"),
        round(element_at(col("features"), 25).cast("double"), 6).as("b0"),
        round(aggregate(col("features").cast("array<double>"), lit(0.0),
          (acc, x) => acc + x), 4).as("f_sum"))
    }),

    // Multimodal audio decode — REAL codec (JDK javax.sound.sampled), not
    // the stub: scan committed WAV fixtures, parse the PCM container and
    // normalize samples on executors. Filenames carry the generator's
    // sample-pattern parameters (tools/gen_wav_fixtures.py), so the oracle
    // recomputes every decoded value analytically — one flipped byte in
    // the 16-bit LE parse and the hashes diverge. corrupt.wav exercises
    // the null path.
    "mm3_audio_decode" -> ((s, _) => {
      val ingested = Multimodal.ingestAudio(
        Multimodal.scanBlobs(fx(s), s"$FixturesDir/audio"), partitions = 2)
      ingested.filter(col("features").isNotNull)
        .select(col("name"), col("length"),
          size(col("features")).as("n_samples"),
          round(element_at(col("features"), 1).cast("double"), 6).as("s0"),
          round(aggregate(col("features").cast("array<double>"), lit(0.0),
            (acc, x) => acc + x), 4).as("s_sum"),
          round(sqrt(aggregate(col("features").cast("array<double>"), lit(0.0),
            (acc, x) => acc + x * x) / size(col("features"))), 6).as("rms"))
    }),

    // Multimodal video decode — REAL codec (JDK ImageIO's multi-frame GIF
    // reader), not the stub: demux committed animated-GIF fixtures, sample
    // every 2nd frame, pool each kept frame to mean RGB. Filenames carry
    // the generator's solid-gray frame recipe (vid_<g0>_<dg>_<nf>.gif,
    // frame j = (g0 + j*dg) % 256), so the oracle recomputes every pooled
    // value analytically — one misread frame index or palette entry and
    // the hashes diverge. corrupt.gif exercises the null path.
    "mm4_video_frames" -> ((s, _) => {
      val ingested = Multimodal.ingestVideo(
        Multimodal.scanBlobs(fx(s), s"$FixturesDir/video"), everyK = 2,
        partitions = 2)
      ingested.filter(col("decoded").isNotNull)
        .select(col("name"), col("length"),
          col("decoded.n_frames").as("n_frames"),
          (size(col("decoded.features")) / 3).cast("int").as("n_sampled"),
          round(element_at(col("decoded.features"), 1).cast("double"), 6).as("f0"),
          round(aggregate(col("decoded.features").cast("array<double>"),
            lit(0.0), (acc, x) => acc + x), 4).as("f_sum"))
    }),

    // J3: positional zip-join — bands zipped with the 11-wide coefficient
    // array by position (arrays_zip + posexplode; zip pads to the longer).
    "j3_zip_join" -> ((s, _) => {
      val joined = scenesDf(fx(s)).join(metadataDf(s), Seq("scene_id"), "inner")
        .withColumn("mult11", Calibration.coeffArray(resc, "RADIANCE_MULT", 11))
      joined
        .select(col("scene_id"),
          posexplode(arrays_zip(col("bands"), col("mult11"))).as(Seq("band_pos", "z")))
        .select(col("scene_id"), col("band_pos").cast("int").as("band_pos"),
          round(col("z.mult11"), 6).as("mult_i"),
          round(arrSum(col("z.bands")), 3).as("band_sum"))
    }),

    // The reference's whole main() as one lazy plan: sources → calibration →
    // 365-wide features → exact split → train-only 4× augmentation.
    // Oracle checks the pipeline invariants: |train| = ⌊0.8N⌋ fanned ×4,
    // |test| = N − ⌊0.8N⌋ unfanned, and feature width 365 throughout.
    "pipeline_e2e" -> ((s, _) =>
      graft.Pipeline.trainTest(fx(s), graft.Pipeline.Config(fixturesDir = FixturesDir))
        .groupBy(col("is_train"), col("aug_k").cast("int").as("aug_k"))
        .agg(count(lit(1)).as("n"),
          max(size(col("features"))).as("width"),
          min(size(col("features"))).as("min_width"))),

    // Flagship relational core, also the driver's smoke entry: mean air temp
    // per station over Landsat-5 scenes (scan→align→explode→J1→J2→P3→agg).
    "flagship_station_mean" -> ((s, _) => flagship(fx(s)))
  )

  def flagship(s: SparkSession): DataFrame = {
    val l5Scenes = scenesDf(s).filter(size(col("bands")) === 7).select("scene_id")
    val samples = gtJoined(s).join(l5Scenes, Seq("scene_id"), "left_semi")
    val clean = Features.dropSentinel(samples)
    Features.joinStationCatalog(clean, catalogDf(s))
      .groupBy("station_id")
      .agg(count(lit(1)).as("n"), round(avg("air_temp"), 4).as("mean_temp"))
  }

  // ---- DuckDB oracle -----------------------------------------------------

  private val stationsSrc =
    """stations_src AS (
      |  SELECT regexp_extract(filename, '([^/]+)_stations\.txt$', 1) AS scene_id,
      |         list_transform(string_split(regexp_replace(trim(column0), '[\[\]]', '', 'g'), ', '),
      |                        x -> CAST(x AS INT)) AS stations
      |  FROM read_csv('/root/repo/fixtures/stations/*_stations.txt', header=false,
      |                delim='|', columns={'column0':'VARCHAR'}, filename=true))""".stripMargin

  private val metaSrc =
    """meta_src AS (
      |  SELECT regexp_extract(filename, '([^/]+)_MTL_metadata\.json$', 1) AS scene_id,
      |         LANDSAT_METADATA_FILE AS m
      |  FROM read_json('/root/repo/fixtures/metadatas/*_MTL_metadata.json',
      |                 filename=true, union_by_name=true))""".stripMargin

  private val scenesSrc =
    """scenes_src AS (
      |  SELECT scene_id,
      |         list_transform(bands, b -> list_transform(b, x -> CAST(x AS DOUBLE))) AS bands
      |  FROM read_json('/root/repo/fixtures/scenes/scenes.jsonl', format='newline_delimited'))""".stripMargin

  private val gtSrc =
    """gt_src AS (
      |  SELECT utc_date, station_id, air_temp
      |  FROM read_csv('/root/repo/fixtures/ground_truths.csv', header=true,
      |                columns={'utc_date':'DATE','station_id':'INTEGER','air_temp':'DOUBLE'}))""".stripMargin

  private val catalogSrc =
    """catalog_src AS (
      |  SELECT id, name, longitude, latitude
      |  FROM read_csv('/root/repo/fixtures/stations_catalog.csv', header=true,
      |                columns={'id':'INTEGER','name':'VARCHAR','longitude':'DOUBLE','latitude':'DOUBLE'}))""".stripMargin

  private val sceneDateSql =
    """make_date(CAST(substr(string_split(scene_id, '_')[4], 1, 4) AS INT),
      |          CAST(substr(string_split(scene_id, '_')[4], 5, 2) AS INT),
      |          CAST(substr(string_split(scene_id, '_')[4], 7, 2) AS INT))""".stripMargin

  /** samples = scenes ⋈ stations exploded, with scene date; gtd = first-match
    * deduped GT (min == first occurrence by fixture construction).
    */
  private val samplesAndGt =
    s"""$stationsSrc, $scenesSrc, $gtSrc,
       |gtd AS (SELECT utc_date, station_id, min(air_temp) AS air_temp
       |        FROM gt_src GROUP BY utc_date, station_id),
       |samples AS (
       |  SELECT st.scene_id, unnest(st.stations) AS station_id, $sceneDateSql AS d
       |  FROM stations_src st JOIN scenes_src sc USING (scene_id)),
       |joined AS (
       |  SELECT s.scene_id, s.station_id,
       |         coalesce(g.air_temp, -9999.0) AS air_temp
       |  FROM samples s LEFT JOIN gtd g
       |    ON g.utc_date = s.d AND g.station_id = s.station_id)""".stripMargin

  private def multList(table: String = "") = {
    val p = if (table.isEmpty) "m" else s"$table.m"
    "[" + (1 to 11).map(b =>
      s"CAST($p.LEVEL1_RADIOMETRIC_RESCALING.RADIANCE_MULT_BAND_$b AS DOUBLE)").mkString(", ") + "]"
  }
  private def addList(table: String = "") = {
    val p = if (table.isEmpty) "m" else s"$table.m"
    "[" + (1 to 11).map(b =>
      s"CAST($p.LEVEL1_RADIOMETRIC_RESCALING.RADIANCE_ADD_BAND_$b AS DOUBLE)").mkString(", ") + "]"
  }
  private val k1Sql = "CAST(coalesce(m.LEVEL1_THERMAL_CONSTANTS.K1_CONSTANT_BAND_6, m.LEVEL1_THERMAL_CONSTANTS.K1_CONSTANT_BAND_10) AS DOUBLE)"
  private val k2Sql = "CAST(coalesce(m.LEVEL1_THERMAL_CONSTANTS.K2_CONSTANT_BAND_6, m.LEVEL1_THERMAL_CONSTANTS.K2_CONSTANT_BAND_10) AS DOUBLE)"

  /** Calibrated-scene CTE chain shared by m4/m5 oracles: scenes ⋈ meta →
    * radiance → BT → 7-band gather. Exposes cal(scene_id, is_l5, bands7,
    * mult7, add7, k1, k2).
    */
  private val calSql =
    s"""$scenesSrc, $metaSrc,
       |cal0 AS (
       |  SELECT s.scene_id, s.bands,
       |         CASE WHEN len(s.bands) = 7 THEN 1 ELSE 0 END AS is_l5,
       |         ${multList("t")} AS mult, ${addList("t")} AS addv,
       |         ${k1Sql.replace("m.", "t.m.")} AS k1, ${k2Sql.replace("m.", "t.m.")} AS k2
       |  FROM scenes_src s JOIN meta_src t USING (scene_id)
       |  WHERE len(s.bands) IN (7, 11)
       |    AND t.m.LEVEL1_RADIOMETRIC_RESCALING IS NOT NULL
       |    AND t.m.LEVEL1_THERMAL_CONSTANTS IS NOT NULL),
       |cal1 AS (
       |  SELECT scene_id, is_l5, k1, k2, mult, addv,
       |         list_transform(range(1, len(bands) + 1), bi ->
       |           list_transform(bands[bi], px -> px * mult[bi] + addv[bi])) AS rad
       |  FROM cal0),
       |cal2 AS (
       |  SELECT scene_id, is_l5, k1, k2, mult, addv,
       |         list_transform(range(1, len(rad) + 1), bi ->
       |           CASE WHEN bi = (CASE WHEN is_l5 = 1 THEN 6 ELSE 10 END)
       |             THEN list_transform(rad[bi], px ->
       |               CASE WHEN is_l5 = 1 THEN k2 / ln(k1 / px + 1)
       |                    ELSE k2 / (k1 / (px + 1)) END)
       |             ELSE rad[bi] END) AS bt
       |  FROM cal1),
       |cal AS (
       |  SELECT scene_id, is_l5, k1, k2,
       |         CASE WHEN is_l5 = 1 THEN bt ELSE list_select(bt, [2,3,4,5,6,10,7]) END AS bands7,
       |         CASE WHEN is_l5 = 1 THEN mult[1:7] ELSE list_select(mult, [2,3,4,5,6,10,7]) END AS mult7,
       |         CASE WHEN is_l5 = 1 THEN addv[1:7] ELSE list_select(addv, [2,3,4,5,6,10,7]) END AS add7
       |  FROM cal2)""".stripMargin

  private val lcg42 = Hashing.lcgSql("o_orderkey", 42, Hashing.LcgM)

  /** g2 oracle: 4× fan-out with the exact LCG jitter + WGS84 series of
    * [[Augment]] in DuckDB SQL. rk = id*4 + k is the per-variant LCG stream.
    */
  private val g2OracleSql: String = {
    val seed = 42L
    val rk = "(id * 4 + k)"
    val dist = s"CAST(${Hashing.lcgSql(rk, seed + 2, 15000)} + 5000 AS DOUBLE)"
    val dir = Hashing.lcgSql(rk, seed + 3, 4)
    val dayDelta = s"(${Hashing.lcgSql(rk, seed, 11)} + 5)"
    val monthBump = s"(CASE WHEN ${Hashing.lcgSql(rk, seed + 1, 10)} < 3 THEN 1 ELSE 0 END)"
    s"""WITH $catalogSrc,
       |fanned AS (
       |  SELECT id, longitude, latitude, 7 AS month, 15 AS day,
       |         CAST(unnest([0, 1, 2, 3]) AS INT) AS k
       |  FROM catalog_src),
       |jittered AS (
       |  SELECT id, k, longitude, latitude, month, day,
       |    $dist AS dist, $dir AS dir,
       |    111132.92 - 559.82 * cos(2 * radians(latitude))
       |      + 1.175 * cos(4 * radians(latitude))
       |      - 0.0023 * cos(6 * radians(latitude)) AS mlat,
       |    111412.84 * cos(radians(latitude)) - 93.5 * cos(3 * radians(latitude))
       |      + 0.118 * cos(5 * radians(latitude)) AS mlon,
       |    $dayDelta AS ddelta, $monthBump AS mbump
       |  FROM fanned)
       |SELECT id, k AS aug_k,
       |  round(CASE WHEN k = 0 THEN longitude
       |    ELSE longitude + (CASE WHEN dir IN (0, 1) THEN 1.0 ELSE -1.0 END) * dist / mlon END, 6) AS lon2,
       |  round(CASE WHEN k = 0 THEN latitude
       |    ELSE latitude + (CASE WHEN dir IN (0, 3) THEN 1.0 ELSE -1.0 END) * dist / mlat END, 6) AS lat2,
       |  CAST(CASE WHEN k = 0 THEN day
       |    ELSE (CASE WHEN (day + ddelta) % 30 = 0 THEN 1 ELSE (day + ddelta) % 30 END) END AS INT) AS day2,
       |  CAST(CASE WHEN k = 0 THEN month
       |    ELSE (CASE WHEN (month + mbump) % 12 = 0 THEN 1 ELSE (month + mbump) % 12 END) END AS INT) AS month2
       |FROM jittered""".stripMargin
  }

  /** g4 oracle: calibrated tensors → 4× fan-out with per-k rot90 of every
    * band + the same LCG jitter streams as [[Augment.fanOut4]] (seed 42:
    * day=42, month=43, dist=44, dir=45), rk = polyhash(scene_id)*4 + k.
    */
  private val g4OracleSql: String = {
    val rk = "rk"
    val dist = s"CAST(${Hashing.lcgSql(rk, 44, 15000)} + 5000 AS DOUBLE)"
    val dir = Hashing.lcgSql(rk, 45, 4)
    val ddelta = s"(${Hashing.lcgSql(rk, 42, 11)} + 5)"
    val mbump = s"(CASE WHEN ${Hashing.lcgSql(rk, 43, 10)} < 3 THEN 1 ELSE 0 END)"
    def rotAll(src: String) =
      s"list_transform(bands7, b -> list_transform(range(0, 49), i -> b[($src) + 1]))"
    s"""WITH $calSql,
       |based AS (
       |  SELECT scene_id, bands7,
       |    CAST(substr(string_split(scene_id, '_')[4], 5, 2) AS INT) AS month,
       |    CAST(substr(string_split(scene_id, '_')[4], 7, 2) AS INT) AS day,
       |    34.5 AS longitude, 31.2 AS latitude,
       |    ${Hashing.polyHashSql("scene_id")} AS key
       |  FROM cal),
       |fanned AS (
       |  SELECT *, CAST(unnest([0, 1, 2, 3]) AS INT) AS aug_k FROM based),
       |keyed AS (
       |  SELECT *, (key * 4 + aug_k) AS rk FROM fanned),
       |rot AS (
       |  SELECT scene_id, aug_k, day, month, longitude, latitude, rk,
       |    CASE aug_k
       |      WHEN 0 THEN bands7
       |      WHEN 1 THEN ${rotAll("(i % 7) * 7 + (6 - (i // 7))")}
       |      WHEN 2 THEN ${rotAll("48 - i")}
       |      ELSE ${rotAll("(6 - (i % 7)) * 7 + (i // 7)")}
       |    END AS rb
       |  FROM keyed),
       |jit AS (
       |  SELECT scene_id, aug_k, day, month, longitude, latitude,
       |    flatten(rb) AS f,
       |    $dist AS dist, $dir AS dir, $ddelta AS ddelta, $mbump AS mbump
       |  FROM rot)
       |SELECT scene_id, aug_k,
       |  round(list_sum(list_transform(range(1, len(f) + 1), i -> f[i] * i)), 3) AS t_dot,
       |  CAST(CASE WHEN aug_k = 0 THEN day
       |    ELSE (CASE WHEN (day + ddelta) % 30 = 0 THEN 1 ELSE (day + ddelta) % 30 END) END AS INT) AS day2,
       |  CAST(CASE WHEN aug_k = 0 THEN month
       |    ELSE (CASE WHEN (month + mbump) % 12 = 0 THEN 1 ELSE (month + mbump) % 12 END) END AS INT) AS month2,
       |  round(CASE WHEN aug_k = 0 THEN longitude
       |    ELSE longitude + (CASE WHEN dir IN (0, 1) THEN 1.0 ELSE -1.0 END) * dist /
       |      (111412.84 * cos(radians(latitude)) - 93.5 * cos(3 * radians(latitude))
       |       + 0.118 * cos(5 * radians(latitude))) END, 6) AS lon2
       |FROM jit""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "s1_csv_scan" ->
      s"""WITH $gtSrc
         |SELECT utc_date, station_id, air_temp,
         |  CAST(year(utc_date) AS INT) AS year,
         |  CAST(month(utc_date) AS INT) AS month,
         |  CAST(day(utc_date) AS INT) AS day
         |FROM gt_src""".stripMargin,
    "s4_text_scan" ->
      s"""WITH $stationsSrc
         |SELECT scene_id,
         |  CAST(unnest(range(len(stations))) AS INT) AS station_pos,
         |  unnest(stations) AS station_id
         |FROM stations_src""".stripMargin,
    "s3_json_metadata" ->
      s"""WITH $metaSrc
         |SELECT scene_id,
         |  m.IMAGE_ATTRIBUTES.SPACECRAFT_ID AS craft,
         |  CAST(m.LEVEL1_RADIOMETRIC_RESCALING.RADIANCE_MULT_BAND_1 AS DOUBLE) AS mult1,
         |  CAST(m.LEVEL1_RADIOMETRIC_RESCALING.RADIANCE_ADD_BAND_1 AS DOUBLE) AS add1,
         |  $k1Sql AS k1, $k2Sql AS k2
         |FROM meta_src""".stripMargin,
    "s6_align_join" ->
      s"""WITH $scenesSrc, $stationsSrc, $metaSrc
         |SELECT s.scene_id, CAST(len(s.bands) AS INT) AS nbands,
         |  CAST(len(st.stations) AS INT) AS n_stations,
         |  t.m.IMAGE_ATTRIBUTES.SPACECRAFT_ID AS craft
         |FROM scenes_src s
         |  JOIN stations_src st USING (scene_id)
         |  JOIN meta_src t USING (scene_id)""".stripMargin,
    "s5_binary_scan" ->
      """SELECT regexp_extract(filename, '([^/]+)$', 1) AS name, size AS length
        |FROM read_blob('/root/repo/fixtures/binary/*.bin')""".stripMargin,
    // mm6: every dHash bit recomputed analytically from the gradient
    // formula in the filename (v = (a·x + b·y + c·x·y) mod 256; the
    // float-luminance comparison is monotone in v, see Multimodal
    // .dHash64), then the same banded candidate join and Hamming filter.
    "mm6_image_phash" ->
      """WITH blobs AS (
        |  SELECT regexp_extract(filename, '([^/]+)$', 1) AS name
        |  FROM read_blob('/root/repo/fixtures/images_grad/*.png')),
        |p AS (SELECT name,
        |    CAST(regexp_extract(name, 'grad_(\d+)_(\d+)_(\d+)', 1) AS BIGINT) AS a,
        |    CAST(regexp_extract(name, 'grad_(\d+)_(\d+)_(\d+)', 2) AS BIGINT) AS b,
        |    CAST(regexp_extract(name, 'grad_(\d+)_(\d+)_(\d+)', 3) AS BIGINT) AS c
        |  FROM blobs),
        |hs AS (SELECT name,
        |    -- HUGEINT throughout: BIGINT 1<<63 is a checked overflow in
        |    -- DuckDB; the hash never surfaces (only bands + hamming do),
        |    -- so the unsigned HUGEINT bit pattern is equivalent.
        |    list_sum(list_transform(range(64), i ->
        |      CASE WHEN ((a*((i%8)+1) + b*(i//8) + c*((i%8)+1)*(i//8)) % 256)
        |             > ((a*(i%8) + b*(i//8) + c*(i%8)*(i//8)) % 256)
        |        THEN (CAST(1 AS HUGEINT) << CAST(i AS INT))
        |        ELSE CAST(0 AS HUGEINT) END)) AS h
        |  FROM p),
        |bands AS (SELECT name, h, bb, (h >> (bb*16)) & 65535 AS bkey
        |  FROM hs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS bb)),
        |cand AS (SELECT DISTINCT x.name AS name_a, y.name AS name_b,
        |    x.h AS ha, y.h AS hb
        |  FROM bands x JOIN bands y
        |    ON x.bb = y.bb AND x.bkey = y.bkey AND x.name < y.name)
        |SELECT name_a, name_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 16""".stripMargin,
    "mm2_image_decode" ->
      """WITH blobs AS (
        |  SELECT regexp_extract(filename, '([^/]+)$', 1) AS name, size AS length
        |  FROM read_blob('/root/repo/fixtures/images/*.png')),
        |rgb AS (
        |  SELECT name, length,
        |    CAST(CAST(regexp_extract(name, 'img_(\d+)_(\d+)_(\d+)\.png', 1) AS INT) AS FLOAT)
        |      / CAST(255.0 AS FLOAT) AS rf,
        |    CAST(CAST(regexp_extract(name, 'img_(\d+)_(\d+)_(\d+)\.png', 2) AS INT) AS FLOAT)
        |      / CAST(255.0 AS FLOAT) AS gf,
        |    CAST(CAST(regexp_extract(name, 'img_(\d+)_(\d+)_(\d+)\.png', 3) AS INT) AS FLOAT)
        |      / CAST(255.0 AS FLOAT) AS bf
        |  FROM blobs)
        |SELECT name, length, CAST(36 AS INT) AS n_features,
        |  round(CAST(rf AS DOUBLE), 6) AS r0,
        |  round(CAST(gf AS DOUBLE), 6) AS g0,
        |  round(CAST(bf AS DOUBLE), 6) AS b0,
        |  round(12 * CAST(rf AS DOUBLE) + 12 * CAST(gf AS DOUBLE)
        |        + 12 * CAST(bf AS DOUBLE), 4) AS f_sum
        |FROM rgb""".stripMargin,
    "mm3_audio_decode" ->
      """WITH blobs AS (
        |  SELECT regexp_extract(filename, '([^/]+)$', 1) AS name, size AS length
        |  FROM read_blob('/root/repo/fixtures/audio/*.wav')
        |  WHERE regexp_matches(filename, 'wav_\d+_\d+_\d+_\d+\.wav$')),
        |p AS (
        |  SELECT name, length,
        |    CAST(regexp_extract(name, 'wav_(\d+)_(\d+)_(\d+)_(\d+)\.wav', 1) AS BIGINT) AS a,
        |    CAST(regexp_extract(name, 'wav_(\d+)_(\d+)_(\d+)_(\d+)\.wav', 2) AS BIGINT) AS b,
        |    CAST(regexp_extract(name, 'wav_(\d+)_(\d+)_(\d+)_(\d+)\.wav', 3) AS BIGINT) AS n,
        |    CAST(regexp_extract(name, 'wav_(\d+)_(\d+)_(\d+)_(\d+)\.wav', 4) AS BIGINT) AS ch
        |  FROM blobs),
        |feat AS (
        |  SELECT name, length,
        |    list_transform(range(0, n * ch), j ->
        |      CAST(CAST(((a * j + b) % 2001) - 1000 AS FLOAT)
        |           / CAST(32768.0 AS FLOAT) AS DOUBLE)) AS f
        |  FROM p)
        |SELECT name, length, CAST(len(f) AS INT) AS n_samples,
        |  round(f[1], 6) AS s0,
        |  round(list_sum(f), 4) AS s_sum,
        |  round(sqrt(list_sum(list_transform(f, x -> x * x)) / len(f)), 6) AS rms
        |FROM feat""".stripMargin,
    "mm4_video_frames" ->
      """WITH blobs AS (
        |  SELECT regexp_extract(filename, '([^/]+)$', 1) AS name, size AS length
        |  FROM read_blob('/root/repo/fixtures/video/*.gif')
        |  WHERE regexp_matches(filename, 'vid_\d+_\d+_\d+\.gif$')),
        |p AS (
        |  SELECT name, length,
        |    CAST(regexp_extract(name, 'vid_(\d+)_(\d+)_(\d+)\.gif', 1) AS BIGINT) AS g0,
        |    CAST(regexp_extract(name, 'vid_(\d+)_(\d+)_(\d+)\.gif', 2) AS BIGINT) AS dg,
        |    CAST(regexp_extract(name, 'vid_(\d+)_(\d+)_(\d+)\.gif', 3) AS BIGINT) AS nf
        |  FROM blobs),
        |f AS (
        |  SELECT name, length, nf,
        |    flatten(list_transform(
        |      list_filter(range(0, nf), j -> j % 2 = 0),
        |      j -> list_transform(range(3), z ->
        |        CAST(CAST((g0 + j * dg) % 256 AS FLOAT)
        |             / CAST(255.0 AS FLOAT) AS DOUBLE)))) AS feats
        |  FROM p)
        |SELECT name, length, CAST(nf AS INT) AS n_frames,
        |  CAST(len(feats) / 3 AS INT) AS n_sampled,
        |  round(feats[1], 6) AS f0,
        |  round(list_sum(feats), 4) AS f_sum
        |FROM f""".stripMargin,
    // Fixture names are ground truth by construction (generators encode the
    // recipe in the name), so the oracle derives modality + decoded values
    // from names: unknown blobs are null/quarantined, PNGs decode to the
    // analytic solid-color planes (same math the mm2 oracle proves).
    "mm1_multimodal_ingest" ->
      """WITH bins AS (
        |  SELECT regexp_extract(filename, '([^/]+)$', 1) AS name, size AS length
        |  FROM read_blob('/root/repo/fixtures/binary/*.bin')),
        |imgs AS (
        |  SELECT regexp_extract(filename, '([^/]+)$', 1) AS name, size AS length
        |  FROM read_blob('/root/repo/fixtures/images/*.png')),
        |rgb AS (
        |  SELECT name, length,
        |    CAST(CAST(regexp_extract(name, 'img_(\d+)_(\d+)_(\d+)\.png', 1) AS INT) AS FLOAT)
        |      / CAST(255.0 AS FLOAT) AS rf,
        |    CAST(CAST(regexp_extract(name, 'img_(\d+)_(\d+)_(\d+)\.png', 2) AS INT) AS FLOAT)
        |      / CAST(255.0 AS FLOAT) AS gf,
        |    CAST(CAST(regexp_extract(name, 'img_(\d+)_(\d+)_(\d+)\.png', 3) AS INT) AS FLOAT)
        |      / CAST(255.0 AS FLOAT) AS bf
        |  FROM imgs)
        |SELECT name, length, 'unknown' AS modality, TRUE AS quarantined,
        |  CAST(NULL AS INT) AS n_features, CAST(NULL AS DOUBLE) AS f_sum
        |FROM bins
        |UNION ALL
        |SELECT name, length, 'image' AS modality, FALSE AS quarantined,
        |  CAST(36 AS INT) AS n_features,
        |  round(12 * CAST(rf AS DOUBLE) + 12 * CAST(gf AS DOUBLE)
        |        + 12 * CAST(bf AS DOUBLE), 4) AS f_sum
        |FROM rgb""".stripMargin,
    "mm5_quarantine_count" ->
      """WITH names AS (
        |  SELECT regexp_extract(filename, '([^/]+)$', 1) AS name
        |  FROM read_blob('/root/repo/fixtures/binary/*.bin')
        |  UNION ALL
        |  SELECT regexp_extract(filename, '([^/]+)$', 1)
        |  FROM read_blob('/root/repo/fixtures/images/*.png')
        |  UNION ALL
        |  SELECT regexp_extract(filename, '([^/]+)$', 1)
        |  FROM read_blob('/root/repo/fixtures/audio/*.wav')
        |  UNION ALL
        |  SELECT regexp_extract(filename, '([^/]+)$', 1)
        |  FROM read_blob('/root/repo/fixtures/video/*.gif')),
        |m AS (
        |  SELECT CASE
        |    WHEN name LIKE 'img_%' THEN 'image'
        |    WHEN name LIKE 'wav_%' THEN 'audio'
        |    WHEN name LIKE 'vid_%' THEN 'video'
        |    ELSE 'unknown' END AS modality
        |  FROM names)
        |SELECT modality, count(*) AS n_blobs,
        |  CAST(sum(CASE WHEN modality = 'unknown' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_quarantined
        |FROM m GROUP BY modality""".stripMargin,
    "j3_zip_join" ->
      s"""WITH $scenesSrc, $metaSrc,
         |j AS (
         |  SELECT s.scene_id, s.bands, ${multList("t")} AS mult11
         |  FROM scenes_src s JOIN meta_src t USING (scene_id)),
         |z AS (
         |  SELECT scene_id,
         |    CAST(unnest(range(greatest(len(bands), len(mult11)))) AS INT) AS band_pos,
         |    unnest(bands) AS band, unnest(mult11) AS mult_i
         |  FROM j)
         |SELECT scene_id, band_pos, round(mult_i, 6) AS mult_i,
         |  round(list_sum(band), 3) AS band_sum
         |FROM z""".stripMargin,
    "s7_sink_roundtrip" ->
      "SELECT o_orderkey, o_totalprice FROM orders",
    "s9_partition_pruning" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en' GROUP BY source""".stripMargin,
    "s10_sorted_pruning" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE n_chars >= 400 GROUP BY lang""".stripMargin,
    "s12_zorder_pruning" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 3) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 40 AND 59
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY event_type""".stripMargin,
    "s11_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    // s14: the bloom filter is layout-only — the lookup's rows must be
    // exactly the base table's.
    "s14_parquet_bloom" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (7, 123, 4567, 49999)""".stripMargin,
    // s13: version 1 = the pre-append slice (pinned manifest), version 2
    // = everything — isolation means the later commit cannot leak into
    // the v1 read.
    "s13_snapshot_read" ->
      """SELECT CAST(1 AS INT) AS version, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id < 300
        |UNION ALL
        |SELECT CAST(2 AS INT), count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents""".stripMargin,
    // recomputed from the base table: gen 1 = even keys carrying price,
    // gen 2 = odd keys carrying priority; the merged scan must account
    // for every null the other generation introduces.
    "s8_schema_evolution" ->
      """SELECT CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS INT) AS gen,
        |  count(*) AS n,
        |  count(*) FILTER (o_orderkey % 2 = 0) AS n_price,
        |  count(*) FILTER (o_orderkey % 2 = 1) AS n_prio,
        |  round(sum(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice ELSE 0 END), 2) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,
    "s5b_pt_ingest" ->
      """SELECT scene_id, nbands, n_stations, t_sum, t_dot
        |FROM read_csv('/root/repo/fixtures/tensors/expected.csv', header=true,
        |  columns={'scene_id':'VARCHAR','nbands':'INTEGER','n_stations':'INTEGER',
        |           't_sum':'BIGINT','t_dot':'BIGINT'})""".stripMargin,
    "s5c_pt_datasource" ->
      """SELECT scene_id, nbands, n_stations, t_sum, t_dot
        |FROM read_csv('/root/repo/fixtures/tensors/expected.csv', header=true,
        |  columns={'scene_id':'VARCHAR','nbands':'INTEGER','n_stations':'INTEGER',
        |           't_sum':'BIGINT','t_dot':'BIGINT'})""".stripMargin,
    "s5d_pt_stream" ->
      """SELECT scene_id, nbands, n_stations, t_sum, t_dot
        |FROM read_csv('/root/repo/fixtures/tensors/expected.csv', header=true,
        |  columns={'scene_id':'VARCHAR','nbands':'INTEGER','n_stations':'INTEGER',
        |           't_sum':'BIGINT','t_dot':'BIGINT'})""".stripMargin,
    "p2_scene_date" ->
      s"""WITH $scenesSrc
         |SELECT scene_id,
         |  CAST(substr(string_split(scene_id, '_')[4], 1, 4) AS INT) AS year,
         |  CAST(substr(string_split(scene_id, '_')[4], 5, 2) AS INT) AS month,
         |  CAST(substr(string_split(scene_id, '_')[4], 7, 2) AS INT) AS day
         |FROM scenes_src""".stripMargin,
    "j1_gt_join" ->
      s"""WITH $samplesAndGt
         |SELECT scene_id, station_id, air_temp FROM joined""".stripMargin,
    "p3_sentinel_filter" ->
      s"""WITH $samplesAndGt
         |SELECT scene_id, count(*) AS n, round(avg(air_temp), 4) AS mean_temp
         |FROM joined WHERE air_temp <> -9999.0 GROUP BY scene_id""".stripMargin,
    "p4_band_filter" ->
      s"""WITH $scenesSrc
         |SELECT scene_id, CAST(len(bands) AS INT) AS nbands,
         |  CASE WHEN len(bands) = 7 THEN 1 ELSE 0 END AS is_l5
         |FROM scenes_src WHERE len(bands) IN (7, 11)""".stripMargin,
    "m1_radiance" ->
      """SELECT l_orderkey, l_linenumber,
        | round(l_quantity * 0.7658 + (-3.1), 6) AS radiance
        |FROM lineitem""".stripMargin,
    "m2_bt_l5" ->
      """SELECT l_orderkey, l_linenumber,
        | round(1260.56 / ln(607.76 / (l_quantity * 0.7658 + 3.2) + 1), 6) AS bt
        |FROM lineitem""".stripMargin,
    "m3_bt_l8" ->
      """SELECT l_orderkey, l_linenumber,
        | round(1321.0789 / (774.8853 / ((l_quantity * 0.7658 + 3.2) + 1)), 6) AS bt
        |FROM lineitem""".stripMargin,
    "m4_calibrated" ->
      s"""WITH $calSql
         |SELECT scene_id, is_l5, CAST(len(bands7) AS INT) AS nbands7,
         |  round(list_sum(flatten(bands7)), 4) AS px_sum,
         |  round(list_sum(bands7[6]), 4) AS thermal_sum
         |FROM cal""".stripMargin,
    "m5_assembly" -> m5OracleSql,
    "g3_rot90" ->
      s"""WITH $scenesSrc, img_src AS (
         |  SELECT scene_id, bands[1] AS img FROM scenes_src)
         |SELECT scene_id, k,
         |  round(list_sum(list_transform(range(0, 49), i -> rimg[i + 1] * (i + 1))), 3) AS checksum,
         |  rimg[1] AS first_px
         |FROM (
         |  SELECT scene_id, 0 AS k, img AS rimg FROM img_src
         |  UNION ALL
         |  SELECT scene_id, 1, list_transform(range(0, 49), i -> img[((i % 7) * 7 + (6 - (i // 7))) + 1]) FROM img_src
         |  UNION ALL
         |  SELECT scene_id, 2, list_transform(range(0, 49), i -> img[(48 - i) + 1]) FROM img_src
         |  UNION ALL
         |  SELECT scene_id, 3, list_transform(range(0, 49), i -> img[((6 - (i % 7)) * 7 + (i // 7)) + 1]) FROM img_src
         |)""".stripMargin,
    "g2_augment" -> g2OracleSql,
    "g4_augment_tensor" -> g4OracleSql,
    "o10_shuffle_order" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, ${Hashing.lcgSql("doc_id", 7, Hashing.LcgM)} AS shuf
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY shuf, doc_id) AS BIGINT) AS rn
         |FROM keyed""".stripMargin,
    "o12_sharded_export" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, ${Hashing.lcgSql("doc_id", 7, Hashing.LcgM)} AS shuf
         |  FROM documents),
         |numbered AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY shuf, doc_id) AS rn
         |  FROM keyed)
         |SELECT CAST((rn - 1) % 8 AS INT) AS shard,
         |  count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
         |  CAST(min(rn) AS BIGINT) AS first_rn
         |FROM numbered
         |GROUP BY 1""".stripMargin,
    "o1_split_exact" ->
      s"""WITH keyed AS (
         |  SELECT o_orderkey, $lcg42 AS shuf FROM orders),
         |numbered AS (
         |  SELECT o_orderkey,
         |    row_number() OVER (ORDER BY shuf, o_orderkey) AS rn,
         |    count(*) OVER () AS n
         |  FROM keyed)
         |SELECT o_orderkey, rn,
         |  CAST(CASE WHEN rn <= floor(0.8 * n) THEN 1 ELSE 0 END AS INT) AS is_train
         |FROM numbered""".stripMargin,
    "f1_string_split" ->
      """SELECT p_partkey, string_split(p_name, ' ')[1] AS first_word,
        | substr(p_type, 1, 6) AS type_prefix, upper(p_brand) AS brand_u
        |FROM part""".stripMargin,
    "f2_date_parse" ->
      """SELECT o_orderkey, CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE) AS parsed,
        | CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m
        |FROM orders""".stripMargin,
    "f5_concat" ->
      s"""WITH $scenesSrc
         |SELECT scene_id, scene_id || '_stations.txt' AS station_file,
         |  printf('scene=%s|bands=%d', scene_id, len(bands)) AS tag
         |FROM scenes_src""".stripMargin,
    "pipeline_e2e" ->
      s"""WITH $samplesAndGt, $catalogSrc, $metaSrc,
         |cal_scenes AS (
         |  SELECT s.scene_id
         |  FROM scenes_src s JOIN meta_src t USING (scene_id)
         |  WHERE len(s.bands) IN (7, 11)
         |    AND t.m.LEVEL1_RADIOMETRIC_RESCALING IS NOT NULL
         |    AND t.m.LEVEL1_THERMAL_CONSTANTS IS NOT NULL),
         |base AS (
         |  SELECT j.scene_id, j.station_id FROM joined j
         |    JOIN catalog_src c ON j.station_id = c.id
         |    JOIN cal_scenes cs ON j.scene_id = cs.scene_id
         |  WHERE j.air_temp <> -9999.0),
         |t AS (SELECT CAST(floor(0.8 * count(*)) AS BIGINT) AS ntrain,
         |             count(*) AS total FROM base)
         |SELECT 1 AS is_train, CAST(k AS INT) AS aug_k, ntrain AS n,
         |  CAST(365 AS INT) AS width, CAST(365 AS INT) AS min_width
         |FROM t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) u
         |UNION ALL
         |SELECT 0 AS is_train, 0 AS aug_k, total - ntrain AS n,
         |  CAST(365 AS INT) AS width, CAST(365 AS INT) AS min_width
         |FROM t""".stripMargin,
    "flagship_station_mean" ->
      s"""WITH $samplesAndGt, $catalogSrc,
         |l5 AS (SELECT scene_id FROM scenes_src WHERE len(bands) = 7)
         |SELECT j.station_id, count(*) AS n, round(avg(j.air_temp), 4) AS mean_temp
         |FROM joined j
         |  JOIN l5 ON j.scene_id = l5.scene_id
         |  JOIN catalog_src c ON j.station_id = c.id
         |WHERE j.air_temp <> -9999.0
         |GROUP BY j.station_id""".stripMargin
  )

  /** m5 oracle: full pipeline — calibrated scenes ⋈ samples ⋈ catalog →
    * 365-wide assembly checksum.
    */
  private lazy val m5OracleSql: String =
    s"""WITH $samplesAndGt, $metaSrc, $catalogSrc,
       |cal0 AS (
       |  SELECT s.scene_id, s.bands,
       |         CASE WHEN len(s.bands) = 7 THEN 1 ELSE 0 END AS is_l5,
       |         ${multList("t")} AS mult, ${addList("t")} AS addv,
       |         ${k1Sql.replace("m.", "t.m.")} AS k1, ${k2Sql.replace("m.", "t.m.")} AS k2
       |  FROM scenes_src s JOIN meta_src t USING (scene_id)
       |  WHERE len(s.bands) IN (7, 11)
       |    AND t.m.LEVEL1_RADIOMETRIC_RESCALING IS NOT NULL
       |    AND t.m.LEVEL1_THERMAL_CONSTANTS IS NOT NULL),
       |cal1 AS (
       |  SELECT scene_id, is_l5, k1, k2, mult, addv,
       |         list_transform(range(1, len(bands) + 1), bi ->
       |           list_transform(bands[bi], px -> px * mult[bi] + addv[bi])) AS rad
       |  FROM cal0),
       |cal2 AS (
       |  SELECT scene_id, is_l5, k1, k2, mult, addv,
       |         list_transform(range(1, len(rad) + 1), bi ->
       |           CASE WHEN bi = (CASE WHEN is_l5 = 1 THEN 6 ELSE 10 END)
       |             THEN list_transform(rad[bi], px ->
       |               CASE WHEN is_l5 = 1 THEN k2 / ln(k1 / px + 1)
       |                    ELSE k2 / (k1 / (px + 1)) END)
       |             ELSE rad[bi] END) AS bt
       |  FROM cal1),
       |cal AS (
       |  SELECT scene_id, is_l5, k1, k2,
       |         CASE WHEN is_l5 = 1 THEN bt ELSE list_select(bt, [2,3,4,5,6,10,7]) END AS bands7,
       |         CASE WHEN is_l5 = 1 THEN mult[1:7] ELSE list_select(mult, [2,3,4,5,6,10,7]) END AS mult7,
       |         CASE WHEN is_l5 = 1 THEN addv[1:7] ELSE list_select(addv, [2,3,4,5,6,10,7]) END AS add7
       |  FROM cal2),
       |assembled AS (
       |  SELECT j.scene_id, j.station_id, j.air_temp,
       |    flatten(c.bands7) || c.mult7 || c.add7 || [c.k2, c.k1] ||
       |    [CAST(c.is_l5 AS DOUBLE)] ||
       |    [cat.longitude, cat.latitude,
       |     CAST(year(s.d) AS DOUBLE), CAST(month(s.d) AS DOUBLE), CAST(day(s.d) AS DOUBLE)] AS features
       |  FROM joined j
       |    JOIN (SELECT DISTINCT scene_id, d FROM samples) s ON j.scene_id = s.scene_id
       |    JOIN cal c ON j.scene_id = c.scene_id
       |    JOIN catalog_src cat ON j.station_id = cat.id
       |  WHERE j.air_temp <> -9999.0)
       |SELECT scene_id, station_id, CAST(len(features) AS INT) AS width,
       |  round(list_sum(list_transform(range(1, len(features) + 1), i -> features[i] * i)), 3) AS f_dot,
       |  air_temp
       |FROM assembled""".stripMargin
}
