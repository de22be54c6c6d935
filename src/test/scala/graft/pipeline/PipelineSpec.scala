package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.config._
import graft.geo.{GeoFunctions, Geometry}
import graft.sources.{AtomFeedSource, GeoJsonSource, PagedRestSource, ShpSource}

/** End-to-end pipeline over the reference-shaped fixtures: stage →
  * geoprocess → publish, plus idempotence of truncate-and-load (K5 run
  * twice ⇒ same counts, SURVEY §5 test plan).
  */
class PipelineSpec extends AnyFunSuite {

  private val warehouse = Files.createTempDirectory("graft_wh").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("PipelineSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", warehouse)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val res = "src/test/resources/geodata"

  private val sources = Seq(
    Source(name = "Sample Points", authority = "TEST", sourceType = "file",
      url = s"$res/sample.geojson", stagedDataType = Some("geojson")),
    Source(name = "Rest Layers", authority = "TST2", sourceType = "rest_api",
      url = s"$res/rest_stub",
      raw = Map("where_clause" -> "properties['category'] = 'A'",
        "layer_ids" -> Seq(0, 1))),
    Source(name = "Disabled Source", authority = "OFF", sourceType = "file",
      url = s"$res/sample.geojson", enabled = false))

  test("GeoJSON source: explode + normalize + bbox columns") {
    val df = GeoJsonSource.read(spark, s"$res/sample.geojson")
    assert(df.count() == 2)
    val row = df.filter("properties['id'] = 1").collect().head
    assert(row.getAs[String]("geom_type") == "Point")
    assert(row.getAs[String]("geometry") == "POINT (18.0649 59.3293)")
    assert(row.getAs[Int]("srid") == 3006)
    assert(math.abs(row.getAs[Double]("xmin") - 18.0649) < 1e-9)
  }

  test("GeoJSON source: empty collection & mixed geometry detection") {
    val empty = GeoJsonSource.read(spark, s"$res/empty.geojson")
    assert(empty.filter("geometry is not null").count() == 0)
    val mixed = GeoJsonSource.read(spark, s"$res/mixed.geojson")
    assert(GeoFunctions.detectGeometryType(mixed) == "POLYGON") // mixed → default
    val sample = GeoJsonSource.read(spark, s"$res/rest_stub/layer-0/page-0.json")
    assert(GeoFunctions.detectGeometryType(sample) == "POINT")
  }

  test("paged REST source: pages union, where/outFields/bbox pushdown semantics") {
    val all = PagedRestSource.readLayer(spark, s"$res/rest_stub/layer-0")
    assert(all.count() == 4) // 2 pages unioned
    val q = PagedRestSource.Query(
      whereClause = Some("properties['category'] = 'A'"),
      outFields = Seq("id", "name"),
      bbox = Some(Geometry.BBox(17.9, 59.2, 18.2, 59.5)))
    val filtered = PagedRestSource.readLayer(spark, s"$res/rest_stub/layer-0", q)
    val rows = filtered.collect()
    // category A ∧ inside bbox → ids 1,3 (4 is cat A but outside bbox)
    assert(rows.map(_.getAs[Map[String, String]]("properties")("id")).sorted.toSeq == Seq("1", "3"))
    assert(rows.head.getAs[Map[String, String]]("properties").keySet == Set("id", "name"))
    // discovery finds both layers
    assert(PagedRestSource.discoverLayers(s"$res/rest_stub") == Seq(0, 1))
    assert(PagedRestSource.readService(spark, s"$res/rest_stub").count() == 5)
  }

  test("atom feed link extraction dedups preserving order") {
    val xml = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$res/feed.atom")))
    val links = AtomFeedSource.extractLinks(xml)
    assert(links == Seq(
      "https://example.se/data/a.zip",
      "https://example.se/page/a.html",
      "https://example.se/data/b.gpkg"))
    assert(AtomFeedSource.dataLinks(links) ==
      Seq("https://example.se/data/a.zip", "https://example.se/data/b.gpkg"))
  }

  test("full pipeline: stage, geoprocess (clip+reproject), publish; idempotent reload") {
    val cfg = GlobalConfig(
      aoi = Some((17.9, 59.2, 18.2, 59.5)),
      targetSrid = 3006, // fixtures are already 3006; identity projection
      sdeLoadStrategy = "truncate_and_load")
    val pipe = new EtlPipeline(spark, cfg, stagingDb = "staging_t1")
    val ledger = pipe.run(sources)

    // T1: disabled source skipped at stage
    assert(ledger.exists(r => r.source == "Disabled Source" && r.status == "skip"))
    // staged names follow generate_fc_name
    val stagedNames = ledger.filter(r => r.phase == "stage" && r.status == "done").map(_.table)
    assert(stagedNames == Seq("test_sample_points", "tst2_rest_layers"))
    // REST where-clause pushed: only category A rows staged (3 of 5);
    // the table itself is later clipped in place, so assert via the ledger
    assert(ledger.find(r => r.table == "tst2_rest_layers" && r.phase == "stage").get.rows == 3)
    // geoprocess clipped the out-of-bbox feature (id=4 at 30,65)
    val afterGp = spark.table("`staging_t1`.`tst2_rest_layers`")
    assert(afterGp.count() == 2)
    // publish landed in the default-pattern dataset/table
    val pub = ledger.filter(r => r.phase == "publish" && r.status == "done")
    assert(pub.map(_.rows).sum == afterGp.count() + spark.table("`staging_t1`.`test_sample_points`").count())
    assert(spark.catalog.tableExists("`underlag_test`.`test_sample_data`") ||
      spark.catalog.databaseExists("underlag_test"))

    // run twice: truncate-and-load is idempotent (same counts, no dup rows)
    val pipe2 = new EtlPipeline(spark, cfg, stagingDb = "staging_t2")
    pipe2.run(sources)
    val c1 = pipe.results.filter(r => r.phase == "publish" && r.status == "done").map(_.rows)
    val c2 = pipe2.results.filter(r => r.phase == "publish" && r.status == "done").map(_.rows)
    assert(c1 == c2)

    // summary counters (A1)
    assert(pipe.summary(("stage", "done")) == 2L)
    assert(pipe.summary(("stage", "skip")) == 1L)
  }

  test("geoprocess with a CONCAVE polygon AOI: exact clip beats the envelope") {
    // L-shape whose ENVELOPE (17.9..18.2 × 59.2..59.5) contains both
    // category-A points id1 (18.0,59.3) and id3 (18.1,59.4), but whose
    // POLYGON keeps only id1 — id3 sits in the notch (x>18.05 ∧
    // y>59.33). A bbox clip would keep 2 rows; the exact clip keeps 1.
    val lWkt = "POLYGON ((17.9 59.2, 18.2 59.2, 18.2 59.33, " +
      "18.05 59.33, 18.05 59.5, 17.9 59.5, 17.9 59.2))"
    val cfg = GlobalConfig(
      aoiWkt = Some(lWkt),
      targetSrid = 3006,
      sdeLoadStrategy = "truncate_and_load")
    val pipe = new EtlPipeline(spark, cfg, stagingDb = "staging_aoi")
    pipe.run(sources.filter(_.name == "Rest Layers"))
    val after = spark.table("`staging_aoi`.`tst2_rest_layers`").collect()
    assert(after.length == 1, s"exact polygon clip must keep only id1, got ${after.length}")
    assert(after.head.getAs[Map[String, String]]("properties")("id") == "1")
    // the config surface parses the boundary
    val parsed = graft.config.Configs.parseGlobal(
      s"""geoprocessing:
         |  enabled: true
         |  target_srid: 3006
         |  aoi_wkt: "$lWkt"
         |""".stripMargin)
    assert(parsed.aoiWkt.contains(lWkt) && parsed.geoprocessingEnabled)
  }

  test("clipProjectAoi rejects a HOLED AOI at plan time for areal layers") {
    // the polygon-clip kernel rejects holed parts per ROW; the plan-time
    // guard must surface that misconfiguration before any task runs
    val holed = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), " +
      "(4 4, 6 4, 6 6, 4 6, 4 4))"
    val df = graft.geo.GeoFunctions.withBboxColumns(
      spark.range(1).selectExpr(
        "'POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))' AS geometry", "4326 AS srid"))
    val e = intercept[IllegalArgumentException] {
      graft.geo.GeoFunctions.clipProjectAoi(df, holed, 3006)
    }
    assert(e.getMessage.contains("interior rings"))
    // a points/lines-only layer opts out and honors the hole exactly:
    // the point inside the hole clips away, the one outside survives
    val pts = graft.geo.GeoFunctions.withBboxColumns(
      spark.range(2).selectExpr(
        "CASE WHEN id = 0 THEN 'POINT (5 5)' ELSE 'POINT (1 1)' END AS geometry",
        "4326 AS srid"))
    val kept = graft.geo.GeoFunctions
      .clipProjectAoi(pts, holed, 4326, arealSubjects = false)
      .collect()
    assert(kept.length == 1)
    // zero-area (collinear) AOI ring: loud config error, never
    // clip-everything-away
    intercept[IllegalArgumentException] {
      graft.geo.GeoFunctions.clipProjectAoi(
        df, "POLYGON ((0 0, 1 1, 2 2, 0 0))", 3006)
    }
  }

  test("zip source lands, extracts, routes by extension; re-read hits the landing cache") {
    // build an archive with a geojson payload and a distractor entry —
    // the reference's single-resource zip path (file.py:228-371)
    val dir = Files.createTempDirectory("graft_zip_src")
    val zip = dir.resolve("bundle.zip")
    val zout = new java.util.zip.ZipOutputStream(Files.newOutputStream(zip))
    zout.putNextEntry(new java.util.zip.ZipEntry("readme.txt"))
    zout.write("not data".getBytes)
    zout.closeEntry()
    zout.putNextEntry(new java.util.zip.ZipEntry("payload/sample.geojson"))
    zout.write(Files.readAllBytes(java.nio.file.Paths.get(s"$res/sample.geojson")))
    zout.closeEntry()
    zout.close()

    val name     = "Zipped Sample"
    val landRoot = Files.createTempDirectory("graft_land_root")
    val src  = Source(name = name, authority = "ZIP", sourceType = "file",
      url = zip.toString, stagedDataType = Some("shapefile_collection"))
    val pipe = new EtlPipeline(spark,
      GlobalConfig(downloadDir = Some(landRoot.toString)), stagingDb = "staging_zip")

    val direct = GeoJsonSource.read(spark, s"$res/sample.geojson").count()
    assert(pipe.readSource(src).count() == direct) // .txt skipped, geojson routed
    val landedZip = landRoot.resolve("zipped_sample").resolve("zipped_sample.zip")
    assert(Files.exists(landedZip))
    val mtime = Files.getLastModifiedTime(landedZip)
    assert(pipe.readSource(src).count() == direct) // second read: cached landing
    assert(Files.getLastModifiedTime(landedZip) == mtime) // not re-streamed

    // a partial cached extraction (crashed run) falls back to re-extract
    val extracted = landRoot.resolve("zipped_sample").resolve("extracted")
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(extracted)
    try walk.iterator().asScala.toList.reverse
      .filter(_ != extracted).foreach(Files.delete)
    finally walk.close()
    assert(pipe.readSource(src).count() == direct) // empty dir → re-extracted
  }

  test("an http(s) source lands through the pooled session, then routes as a file (R6)") {
    // the download-then-stage split (file.py:228-371 over
    // http_session.py): an http URL serving a zip archive lands ONCE
    // via Landing.landUrl + graft.util.Http, and the extension routing
    // then reads the landed archive exactly like a local zip source
    val dir = Files.createTempDirectory("graft_http_src")
    val zip = dir.resolve("remote.zip")
    val zout = new java.util.zip.ZipOutputStream(Files.newOutputStream(zip))
    zout.putNextEntry(new java.util.zip.ZipEntry("sample.geojson"))
    zout.write(Files.readAllBytes(java.nio.file.Paths.get(s"$res/sample.geojson")))
    zout.closeEntry()
    zout.close()
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/dl/remote.zip",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        hits.incrementAndGet()
        val bytes = Files.readAllBytes(zip)
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val landRoot = Files.createTempDirectory("graft_http_land")
      val src = Source(name = "Http Zip", authority = "WEB", sourceType = "file",
        url = s"$base/dl/remote.zip")
      val pipe = new EtlPipeline(spark,
        GlobalConfig(downloadDir = Some(landRoot.toString)), stagingDb = "staging_http")
      val direct = GeoJsonSource.read(spark, s"$res/sample.geojson").count()
      assert(pipe.readSource(src).count() == direct)
      assert(hits.get() == 1)
      assert(Files.exists(landRoot.resolve("http_zip").resolve("remote.zip")))
      // second read: the landed file serves; the server is never re-asked
      assert(pipe.readSource(src).count() == direct)
      assert(hits.get() == 1)
    } finally server.stop(0)
  }

  test("health preflight ledgers the reference trio before staging; unhealthy gates (A5)") {
    val cfg = GlobalConfig(healthChecksEnabled = true)
    val pipe = new EtlPipeline(spark, cfg, stagingDb = "staging_health")
    val ledger = pipe.run(sources.filterNot(_.enabled)) // no data work
    val health = ledger.filter(_.phase == "health")
    assert(health.map(_.table).sorted == Seq("disk_space", "memory_usage", "system_time"))
    assert(ledger.takeWhile(_.phase == "health").size == 3, "preflight rows come first")
    assert(pipe.summary.keySet.exists(_._1 == "health"))

    // an unhealthy monitor + continue_on_failure=false aborts the run
    val sick = new EtlPipeline(spark,
      GlobalConfig(healthChecksEnabled = true, continueOnFailure = false),
      stagingDb = "staging_health2") {
      override protected def healthMonitor(): graft.util.Health.Monitor = {
        val m = new graft.util.Health.Monitor()
        m.registerCheck("disk_space")(graft.util.Health.diskCheck(
          () => (2.0, 2000000L, 100000000L), () => System.currentTimeMillis()))
        m
      }
    }
    val e = intercept[IllegalStateException] { sick.run(Seq.empty) }
    assert(e.getMessage.contains("Low disk space"))
    // with continue_on_failure (the default), the same monitor only ledgers
    val limping = new EtlPipeline(spark,
      GlobalConfig(healthChecksEnabled = true),
      stagingDb = "staging_health3") {
      override protected def healthMonitor(): graft.util.Health.Monitor = {
        val m = new graft.util.Health.Monitor()
        m.registerCheck("disk_space")(graft.util.Health.diskCheck(
          () => (2.0, 2000000L, 100000000L), () => System.currentTimeMillis()))
        m
      }
    }
    val rows = limping.run(Seq.empty)
    assert(rows.exists(r => r.phase == "health" && r.status == "unhealthy"
      && r.error.contains("Low disk space")))
  }

  test("spark executor liveness check (A5 engine extra)") {
    val ok = graft.util.Health.sparkExecutorsCheck(spark, expected = 1)
    assert(ok.status == "healthy" && ok.details("live").toInt >= 1)
    val degraded = graft.util.Health.sparkExecutorsCheck(spark, expected = 1000)
    assert(degraded.status == "unhealthy")
    assert(graft.util.Health.sparkExecutorsCheck(spark, expected = 0).status == "healthy")
  }

  test("a multi-shapefile archive unions EVERY contained .shp (shapefile_loader.py:90)") {
    // two complete shapefiles (.shp + sidecars) in one zip — the
    // shapefile-collection case; dropping all but the first silently
    // loses data
    val dir = Files.createTempDirectory("graft_zip_multi")
    val zip = dir.resolve("collection.zip")
    val zout = new java.util.zip.ZipOutputStream(Files.newOutputStream(zip))
    Seq("districts.shp", "districts.dbf", "districts.prj",
        "sensors.shp", "sensors.dbf", "sensors.prj").foreach { f =>
      zout.putNextEntry(new java.util.zip.ZipEntry(f))
      zout.write(Files.readAllBytes(java.nio.file.Paths.get(s"$res/../shapedata/$f")))
      zout.closeEntry()
    }
    zout.close()
    val landRoot = Files.createTempDirectory("graft_land_multi")
    val pipe = new EtlPipeline(spark,
      GlobalConfig(downloadDir = Some(landRoot.toString)), stagingDb = "staging_multi")
    val src = Source(name = "Shp Collection", authority = "ZIP", sourceType = "file",
      url = zip.toString, stagedDataType = Some("shapefile_collection"))
    val want =
      ShpSource.read(spark, "src/test/resources/shapedata/districts.shp").count() +
        ShpSource.read(spark, "src/test/resources/shapedata/sensors.shp").count()
    assert(pipe.readSource(src).count() == want,
      "every .shp in the archive must be read and unioned")
  }

  test("publish to a graft-rest applyEdits spool; overwrite truncates the session") {
    val df   = GeoJsonSource.read(spark, s"$res/sample.geojson")
    val dir  = s"${java.nio.file.Files.createTempDirectory("graft_pub_spool")}/svc"
    Publish.publishRestEdits(df, dir)
    def editCount: Long = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      m.readTree(new java.io.File(s"$dir/edits/_SUCCESS")).get("n_edits").asLong()
    }
    assert(editCount == df.count())
    Publish.publishRestEdits(df.limit(1), dir) // truncate-and-load semantics
    assert(editCount == 1L)
  }

  test("GPKG source stages through the same normalized path (K2/S9)") {
    val gpkg = Source(name = "Parks Gpkg", authority = "GPK", sourceType = "file",
      url = "file://src/test/resources/sample.gpkg", stagedDataType = Some("gpkg"))
    val pipe = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_gpkg")
    val staged = pipe.stageSource(gpkg)
    assert(staged.contains("gpk_parks_gpkg"))
    val df = spark.table("`staging_gpkg`.`gpk_parks_gpkg`")
    assert(df.count() == 160) // both layers: 120 polygons + 40 points
    assert(df.filter("geom_type = 'Polygon'").count() == 120)
    assert(df.select("srid").distinct().collect().map(_.getInt(0)).toSeq == Seq(3006))
  }

  test("shapefile source stages through the same normalized path (K3/S9)") {
    val shp = Source(name = "Districts Shp", authority = "SHP", sourceType = "file",
      url = "file://src/test/resources/shapedata/districts.shp",
      stagedDataType = Some("shapefile"))
    val pipe = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_shp")
    val staged = pipe.stageSource(shp)
    assert(staged.contains("shp_districts_shp"))
    val df = spark.table("`staging_shp`.`shp_districts_shp`")
    assert(df.count() == 22)
    assert(df.filter("geom_type = 'Polygon'").count() == 20)
    assert(df.select("srid").distinct().collect().map(_.getInt(0)).toSeq == Seq(3006))
  }

  test("schema pinning: re-staging with a drifted schema is an error") {
    val pipe = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_pin")
    assert(pipe.stageSource(sources.head).isDefined)
    // same source again: same schema → fine (truncate-and-load overwrite)
    assert(pipe.stageSource(sources.head).isDefined)
    // a source staging DIFFERENT columns under the same fc name → drift error
    val drifted = sources.head.copy(url = s"$res/rest_stub/layer-1/page-0.json")
    val pipe2 = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_pin")
    // pipe2 reuses the already-pinned table name for "Sample Points"
    val out = pipe2.stageSource(drifted)
    // layer-1 page has identical normalized schema, so it stages fine;
    // force drift via an extra column instead
    assert(out.isDefined)
    import org.apache.spark.sql.functions._
    val extra = spark.table("`staging_pin`.`test_sample_points`").withColumn("extra", lit(1))
    extra.createOrReplaceTempView("drift_src")
    val pipe3 = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_pin") {
      override def readSource(s: graft.config.Source) = spark.table("drift_src")
    }
    pipe3.stageSource(sources.head)
    assert(pipe3.results.exists(r => r.status == "error" && r.error.contains("schema drift")))
  }

  test("pipeline continues on per-source failure and ledgers the error") {
    val bad = Source(name = "Broken", authority = "BAD", sourceType = "file",
      url = "/nonexistent/file.geojson")
    val pipe = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_t3")
    val ledger = pipe.run(Seq(bad, sources.head))
    assert(ledger.exists(r => r.source == "Broken" && r.status == "error"))
    assert(ledger.exists(r => r.source == "Sample Points" && r.phase == "stage" && r.status == "done"))
    assert(pipe.firstErrors().nonEmpty)
  }

  test("mapping overlay: exact, partial, default; sde name split") {
    val custom = Seq(OutputMapping(
      stagingFc = "test_sample_points", sdeFc = "samples", sdeDataset = "Underlag_TEST"))
    val mm = new MappingManager(custom)
    val src = sources.head
    assert(mm.resolve(src, "test_sample_points").sdeFc == "samples")        // exact
    assert(mm.resolve(src, "test_sample").sdeFc == "samples")               // partial (substring)
    val dflt = mm.resolve(src, "unmapped_fc")
    assert(dflt.sdeDataset == "Underlag_TEST" || dflt.sdeDataset == "underlag_test")
    // _get_sde_names split + LSTD special case
    assert(SdeNaming.sdeNames("SKS_naturvarden_point", GlobalConfig()) ==
      ("GNG.Underlag_SKS", "naturvarden_point"))
    assert(SdeNaming.sdeNames("LSTD_gi_betesmark", GlobalConfig()) ==
      ("GNG.Underlag_LstD", "gi_betesmark"))
    assert(SdeNaming.sdeNames("noprefix", GlobalConfig()) == ("GNG.Underlag_MISC", "noprefix"))
  }

  test("publish strategies: replace and append") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Publish.publish(spark, df, "GNG.Underlag_X", "t1", "replace") == 2)
    assert(Publish.publish(spark, df, "GNG.Underlag_X", "t1", "append") == 4)
    assert(Publish.publish(spark, df, "GNG.Underlag_X", "t1", "truncate_and_load") == 2)
    assert(Publish.publish(spark, df, "GNG.Underlag_X", "t1", "replace") == 2)
    intercept[IllegalArgumentException] {
      Publish.publish(spark, df, "GNG.Underlag_X", "t1", "bogus")
    }
  }

  test("config YAML parsing: sources, mappings, global") {
    val srcYaml =
      """sources:
        |  - name: "Test REST"
        |    authority: "TST"
        |    type: "rest_api"
        |    url: "file:///tmp/rest"
        |    enabled: true
        |    staged_data_type: "geojson"
        |    include: ["alpha;beta", "gamma"]
        |    raw: { where_clause: "1=1", layer_ids: [0, 1] }
        |""".stripMargin
    val parsed = Configs.parseSources(srcYaml)
    assert(parsed.length == 1)
    assert(parsed.head.includeStems == Seq("alpha", "beta", "gamma"))
    assert(parsed.head.raw("where_clause") == "1=1")

    val (maps, settings) = Configs.parseMappings(
      """mappings:
        |  - staging_fc: "a_fc"
        |    sde_fc: "fc"
        |    sde_dataset: "Underlag_A"
        |settings:
        |  default_schema: "GNG"
        |""".stripMargin)
    assert(maps.head.sdeDataset == "Underlag_A")
    assert(settings.defaultSchema == "GNG")

    val g = Configs.parseGlobal(
      """sde_schema: "GNG"
        |sde_load_strategy: "replace"
        |geoprocessing:
        |  enabled: true
        |  target_srid: 3010
        |  aoi_bbox: "17.9, 59.2, 18.2, 59.5"
        |sde_authority_mapping:
        |  LSTD: "GNG.Underlag_LstD"
        |paths:
        |  download: "/data/downloads"
        |monitoring:
        |  health_checks:
        |    enabled: true
        |""".stripMargin)
    assert(g.sdeLoadStrategy == "replace")
    assert(g.aoi.contains((17.9, 59.2, 18.2, 59.5)))
    assert(g.downloadDir.contains("/data/downloads"))
    assert(g.healthChecksEnabled) // config.yaml:87-88
    assert(!Configs.parseGlobal("sde_schema: \"X\"\n").healthChecksEnabled)
    // invalid source type rejected
    intercept[IllegalArgumentException] {
      Source(name = "x", authority = "y", sourceType = "carrier_pigeon", url = "u")
    }
  }

  test("cache_ttl parses tolerantly; malformed values fail as named config errors") {
    val pipe = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_ttl")
    def src(v: Option[Any]) = Source(name = "TtlSrc", authority = "TST",
      sourceType = "file", url = "x",
      raw = v.fold(Map.empty[String, Any])(x => Map("cache_ttl" -> x)))
    assert(pipe.discoveryTtl(src(None)) == 3600L)          // default
    assert(pipe.discoveryTtl(src(Some(60))) == 60L)        // YAML int
    assert(pipe.discoveryTtl(src(Some("120"))) == 120L)    // string
    assert(pipe.discoveryTtl(src(Some(7200.0))) == 7200L)  // YAML float
    assert(pipe.discoveryTtl(src(Some("3600.0"))) == 3600L)
    val e = intercept[IllegalArgumentException] {
      pipe.discoveryTtl(src(Some("soon")))
    }
    assert(e.getMessage.contains("TtlSrc") && e.getMessage.contains("cache_ttl"),
      s"config error must name the source and field: ${e.getMessage}")
    intercept[IllegalArgumentException] { pipe.discoveryTtl(src(Some(3600.5))) }
  }

  private def tableRows(db: String, table: String): Long =
    spark.table(s"`$db`.`$table`").count()

  test("ledger rows equal the written tables for every phase and strategy, 0-row sources included") {
    // one feature, far outside the AOI
    val outside = Files.createTempFile("graft_outside", ".geojson")
    Files.write(outside, ("""{ "type": "FeatureCollection", "features": [""" +
      """{"type": "Feature", "properties": {"id": 9},""" +
      """ "geometry": {"type": "Point", "coordinates": [30.0, 65.0]}}]}""").getBytes)
    val mm = new MappingManager(Seq.empty)
    Seq("truncate_and_load", "replace", "append").foreach { strategy =>
      val cfg = GlobalConfig(aoi = Some((17.9, 59.2, 18.2, 59.5)), targetSrid = 3006,
        sdeLoadStrategy = strategy)
      val db = s"staging_counts_$strategy"
      val pipe = new EtlPipeline(spark, cfg, stagingDb = db)
      val srcs = Seq(
        Source(name = s"Counted Sample $strategy", authority = "CNT", sourceType = "file",
          url = s"$res/sample.geojson"),
        Source(name = s"Counted Outside $strategy", authority = "CNT", sourceType = "file",
          url = outside.toString),
        Source(name = s"Counted Empty $strategy", authority = "CNT", sourceType = "file",
          url = s"$res/empty.geojson"))
      srcs.foreach { s =>
        def last(phase: String) = pipe.results.filter(r => r.source == s.name && r.phase == phase).last
        val fc = pipe.stageSource(s).get
        assert(last("stage").rows == tableRows(db, fc), s"${s.name} stage")
        pipe.geoprocess(s, fc)
        assert(last("geoprocess").status == "done", last("geoprocess").error)
        assert(last("geoprocess").rows == tableRows(db, fc), s"${s.name} geoprocess")
        pipe.publishTable(s, fc)
        val pub = last("publish")
        assert(pub.status == "done", pub.error)
        val m = mm.resolve(s, fc)
        val published = tableRows(Publish.datasetDb(m.sdeDataset),
          graft.functions.Naming.sanitizeSdeName(m.sdeFc).toLowerCase)
        assert(pub.rows == published, s"${s.name} publish ($strategy)")
      }
      def rows(name: String, phase: String) =
        pipe.results.filter(r => r.source.startsWith(name) && r.phase == phase).map(_.rows)
      assert(rows("Counted Sample", "stage") == Seq(2L))
      assert(rows("Counted Sample", "geoprocess") == Seq(2L))
      // wholly outside the AOI: stages a row, clips to 0
      assert(rows("Counted Outside", "stage") == Seq(1L))
      assert(rows("Counted Outside", "geoprocess") == Seq(0L))
      assert(rows("Counted Outside", "publish") == Seq(0L))
      // an empty collection stages, clips and publishes 0 rows
      assert(rows("Counted Empty", "stage") ++ rows("Counted Empty", "geoprocess") ++
        rows("Counted Empty", "publish") == Seq(0L, 0L, 0L))
    }
  }

  test("geoprocess overwrites an orphaned temp-table directory a dead run left behind") {
    val db = "staging_gp_orphan"
    val pipe = new EtlPipeline(spark,
      GlobalConfig(aoi = Some((17.9, 59.2, 18.2, 59.5)), targetSrid = 3006), stagingDb = db)
    val fc = pipe.stageSource(sources.head).get
    // the catalog of a fresh JVM no longer knows the temp table, but its
    // warehouse directory is still there
    val orphan = java.nio.file.Paths.get(
      new java.net.URI(spark.catalog.getDatabase(db).locationUri)).resolve(s"${fc}__gp_tmp")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-00000-orphan.parquet"), "junk".getBytes)
    assert(!spark.catalog.tableExists(s"`$db`.`${fc}__gp_tmp`"))
    pipe.geoprocess(sources.head, fc)
    val gp = pipe.results.filter(_.phase == "geoprocess").last
    assert(gp.status == "done", gp.error)
    assert(gp.rows == 2L && tableRows(db, fc) == 2L)
    assert(!spark.catalog.tableExists(s"`$db`.`${fc}__gp_tmp`"))
  }

  test("run over one GeoJSON source with an AOI takes one Spark job per phase and caches nothing") {
    val group = s"pipeline-jobs-${System.nanoTime()}"
    val marker = s"$group-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group`  => jobs.add(js.jobId)
          case `marker` => markerSeen.countDown()
          case _        =>
        }
    }
    val pipe = new EtlPipeline(spark,
      GlobalConfig(aoi = Some((17.9, 59.2, 18.2, 59.5)), targetSrid = 3006,
        sdeLoadStrategy = "truncate_and_load"),
      stagingDb = "staging_jobs")
    val src = Source(name = "Job Count", authority = "JOB", sourceType = "file",
      url = s"$res/sample.geojson")
    spark.catalog.clearCache()
    spark.sparkContext.addSparkListener(l)
    val ledger = try {
      spark.sparkContext.setJobGroup(group, "pipeline run")
      val out = pipe.run(Seq(src))
      // the listener bus delivers in order: once the marker job's start
      // arrives, every job of the run has been seen
      spark.sparkContext.setJobGroup(marker, "listener bus marker")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      out
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
    assert(ledger.map(r => (r.phase, r.status, r.rows)) ==
      Seq(("stage", "done", 2L), ("geoprocess", "done", 2L), ("publish", "done", 2L)))
    // stage write, clip write, publish write — no re-read counts them
    assert(jobs.size == 3, s"expected 3 jobs, ran ${jobs.size}")
    assert(org.apache.spark.sql.GraftColumnBridge.sqlCacheIsEmpty(spark),
      "the run must leave the SQL cache empty")
  }
}
