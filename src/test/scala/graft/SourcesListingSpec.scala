package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sources

/** The per-scene readers (`Sources.stationLists`, `Sources.metadata`) list
  * their directory on the driver: past 32 files a glob path would start a
  * "Listing leaf files" job with one task per file. The directory form must
  * read exactly what the glob form reads.
  */
class SourcesListingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val scenes = 40

  private def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, text); ()
  }

  private def mtl(i: Int): String =
    s"""{
       |  "LANDSAT_METADATA_FILE": {
       |    "IMAGE_ATTRIBUTES": {"DATE_ACQUIRED": "2020-01-$i", "SPACECRAFT_ID": "LANDSAT_8"},
       |    "LEVEL1_THERMAL_CONSTANTS": {"K1_CONSTANT_BAND_10": "774.8853", "K2_CONSTANT_BAND_10": "1321.0789"},
       |    "LEVEL1_RADIOMETRIC_RESCALING": {"RADIANCE_MULT_BAND_10": "3.342E-04", "RADIANCE_ADD_BAND_$i": "0.1"}
       |  }
       |}""".stripMargin

  /** `scenes` station lists and MTL files, one file per scene, plus a
    * non-matching file and a nested plain subdirectory holding a matching
    * file in each directory.
    */
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_listing")
    (0 until scenes).foreach { i =>
      write(r.resolve(f"stations/S$i%03d_stations.txt"), s"[$i, ${i + 1}, ${i * 7}]")
      write(r.resolve(f"metadatas/S$i%03d_MTL_metadata.json"), mtl(i))
    }
    write(r.resolve("stations/notes.txt"), "[1, 2]")
    write(r.resolve("stations/nested/S900_stations.txt"), "[9]")
    write(r.resolve("metadatas/README.json"), mtl(1))
    write(r.resolve("metadatas/nested/S900_MTL_metadata.json"), mtl(9))
    r
  }

  /** The glob-path readers the per-scene readers replaced. */
  private def globStationLists(dir: String): DataFrame =
    spark.read.text(dir + "/*_stations.txt")
      .withColumn("scene_id",
        regexp_extract(input_file_name(), "([^/]+)_stations\\.txt$", 1))
      .withColumn("stations",
        expr("transform(filter(split(regexp_replace(value, '[\\\\[\\\\]]', ''), ',\\\\s*')," +
          " x -> x != ''), x -> cast(trim(x) as int))"))
      .select("scene_id", "stations")

  private def globMetadata(dir: String): DataFrame =
    spark.read.option("multiLine", "true").schema(Sources.mtlSchema)
      .json(dir + "/*_MTL_metadata.json")
      .withColumn("scene_id",
        regexp_extract(input_file_name(), "([^/]+)_MTL_metadata\\.json$", 1))

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getAs[String]("scene_id"))

  /** Descriptions of the listing jobs over files under `root` that `body`
    * starts. Listener events arrive asynchronously: a marker job run after
    * `body` is delivered after all of body's jobs, so seeing it drains them.
    */
  private def listingJobs[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val marker = s"listing-drain-${java.util.UUID.randomUUID()}"
    val descs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descs.add)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!descs.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(descs.contains(marker), "listener bus did not drain")
      (out, descs.asScala.toSeq.filter(d =>
        d.startsWith("Listing leaf files") && d.contains(root.toString)))
    } finally sc.removeSparkListener(listener)
  }

  test("the glob form of 40 per-scene files starts one listing job per reader") {
    val (_, jobs) = listingJobs {
      globStationLists(s"$root/stations").collect()
      globMetadata(s"$root/metadatas").collect()
    }
    assert(jobs.size == 2)
  }

  test("per-scene readers start no listing job and read what the glob form reads") {
    val ((stations, meta), jobs) = listingJobs {
      (rows(Sources.stationLists(spark, s"$root/stations")),
        rows(Sources.metadata(spark, s"$root/metadatas")))
    }
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(stations.size == scenes && meta.size == scenes)
    assert(stations.head == Row("S000", Seq(0, 1, 0)))
    assert(stations == rows(globStationLists(s"$root/stations")))
    assert(meta == rows(globMetadata(s"$root/metadatas")))
  }

  test("a key=value subdirectory turns the directory form into a partitioned read") {
    // The one layout where the two forms differ: partition discovery takes
    // `part=x` as a partition, adds the column and reads only the files
    // under partition directories, where the glob form reads the files
    // directly under the directory and nothing below it.
    val r = Files.createTempDirectory("graft_listing_kv")
    Seq(1, 2).foreach { i =>
      write(r.resolve(s"stations/S$i" + "_stations.txt"), s"[$i]")
      write(r.resolve(s"metadatas/S$i" + "_MTL_metadata.json"), mtl(i))
    }
    write(r.resolve("stations/part=x/S7_stations.txt"), "[7]")
    write(r.resolve("metadatas/part=x/S7_MTL_metadata.json"), mtl(7))

    val stations = rows(Sources.stationLists(spark, s"$r/stations"))
    assert(stations == Seq(Row("S7", Seq(7))))
    val meta = Sources.metadata(spark, s"$r/metadatas")
    assert(meta.columns.contains("part"))
    assert(rows(meta.select("scene_id", "part")) == Seq(Row("S7", "x")))

    assert(rows(globStationLists(s"$r/stations")).map(_.getString(0)) == Seq("S1", "S2"))
    assert(rows(globMetadata(s"$r/metadatas")).map(_.getAs[String]("scene_id")) ==
      Seq("S1", "S2"))
  }
}
