package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{GlobalConfig, OutputMapping, Source}
import graft.functions.{Naming => Names}
import graft.geo.{GeoFunctions, Geometry}
import graft.sources.{GeoJsonSource, GpkgSource, PagedRestSource, ShpSource}

/** The end-to-end config-driven pipeline (SURVEY §3.1):
  * Extract → Stage → Geoprocess → Publish, with the reference's
  * continue-on-failure ledger semantics (R3) and run summary (A1/A3).
  *
  * Execution model: the per-source LOOP is driver-side plan construction
  * (as in the reference, pipeline.py:203-294); each phase's DATA work is
  * ONE Spark write, and the phase's ledger row count (T7) is an
  * `Observation` on that same write — no phase re-reads what it just
  * wrote. Sources run sequentially in declared order: that keeps the
  * order-dependent fc naming (§7.4) deterministic, and two sources
  * mapped to one published table publish in order.
  */
class EtlPipeline( // extensible: override readSource to plug custom readers (S8)
    spark: SparkSession,
    cfg: GlobalConfig = GlobalConfig(),
    mappings: MappingManager = new MappingManager(Seq.empty),
    stagingDb: String = "staging") {

  import EtlPipeline.LedgerRow

  private val ledger    = mutable.ArrayBuffer[LedgerRow]()
  private val usedNames = mutable.Set[String]()

  /** R3 graceful-degradation ladder shared across sources: recoverable
    * read failures escalate (fewer concurrent downloads, longer
    * timeouts); any healthy stage resets it.
    */
  val ladder = new graft.util.Retry.DegradationLadder()

  def results: Seq[LedgerRow] = ledger.toSeq

  /** Summary counts per (phase, status) — run_summary.py:10-47. */
  def summary: Map[(String, String), Long] =
    ledger.groupBy(r => (r.phase, r.status)).map { case (k, v) => k -> v.size.toLong }

  def firstErrors(n: Int = 10): Seq[String] =
    ledger.filter(_.status == "error").take(n).toSeq
      .map(r => s"${r.source}/${r.phase}: ${r.error}")

  // -------------------------------------------------------------------------

  private def record(s: Source, phase: String, status: String,
      table: String = "", rows: Long = 0, error: String = "",
      level: Long = 0L): Unit =
    ledger += LedgerRow(s.name, s.authority, phase, status, table, rows, error, level)

  /** Extract+read one source into a normalized DataFrame (dispatch on
    * type, HANDLER_MAP semantics — S8). URLs are file://, plain paths,
    * or http(s):// — an HTTP URL lands FIRST through the pooled
    * per-origin session (R6) and the routing below then sees a local
    * file, exactly the reference's download-then-stage split
    * (file.py:228-371).
    */
  def readSource(source: Source): DataFrame = {
    val path = source.url.stripPrefix("file://")
    source.sourceType match {
      case "file" | "atom_feed"
          if source.url.startsWith("http://") || source.url.startsWith("https://") =>
        // S1 over R6: stream the payload once onto local storage via the
        // pooled HTTP session (Landing.landUrl — Content-Disposition
        // naming, per-source cache_ttl re-land window), then recurse so
        // the extension routing below handles the LANDED file.
        val stem = Names.sanitizeForFilename(source.name)
        val landDir = cfg.downloadDir
          .map(java.nio.file.Paths.get(_, stem))
          .getOrElse(java.nio.file.Paths.get(
            sys.props("java.io.tmpdir"), "graft-landing", stem))
        // absent cache_ttl = the reference's land-once cache (io.py:
        // 28-30 — exists ⇒ reuse, no expiry); the discoveryTtl 3600 s
        // default applies to the DISCOVERY response cache only, NOT to
        // landed payloads. A source opts into re-landing by setting
        // cache_ttl explicitly.
        val ttl = source.raw.get("cache_ttl").map(_ => discoveryTtl(source) * 1000L)
        val (landed, _, _) = graft.util.Landing.landUrl(source.url, landDir, ttl)
        readSource(source.copy(url = landed.toString))
      case "file" | "atom_feed" if path.toLowerCase.endsWith(".zip") =>
        // S1+S2→S3: land the archive into a per-source staging subdir
        // (idempotent cached copy, io.py:28-30), extract, then route the
        // contained data file by extension — the reference's
        // _download_and_stage_one path (file.py:228-371: zips default to
        // shapefile collections :280; gpkg/geojson pass through). Re-runs
        // skip both the copy and the extraction.
        val stem = Names.sanitizeForFilename(source.name)
        val landDir = cfg.downloadDir // config.py:69 PathsConfig.download
          .map(java.nio.file.Paths.get(_, stem))
          .getOrElse(java.nio.file.Paths.get(
            sys.props("java.io.tmpdir"), "graft-landing", stem))
        val (landed, _, fromCache) = graft.util.Landing.land(
          () => java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path)),
          landDir.resolve(s"$stem.zip"))
        val extractDir = landDir.resolve("extracted")
        val cachedListing =
          if (fromCache && java.nio.file.Files.isDirectory(extractDir)) {
            import scala.jdk.CollectionConverters._
            val walk = java.nio.file.Files.walk(extractDir)
            try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
            finally walk.close()
          } else Nil
        // route preference mirrors the staged_data_type defaults
        // (file.py:280): shapefile collection first, then gpkg, then
        // json. ALL files of the winning class are kept — a shapefile
        // COLLECTION archive holds many .shp and the reference loads
        // every one (shapefile_loader.py:90 globs *.shp and iterates);
        // picking only the first would silently drop data.
        def route(files: Seq[java.nio.file.Path]): Seq[java.nio.file.Path] = {
          def allWith(exts: String*): Seq[java.nio.file.Path] =
            files.filter(p =>
                exts.exists(p.getFileName.toString.toLowerCase.endsWith))
              .sortBy(_.getFileName.toString)
          Seq(allWith(".shp"), allWith(".gpkg"), allWith(".geojson", ".json"))
            .find(_.nonEmpty).getOrElse(Seq.empty)
        }
        // a cached extraction that routes to nothing (e.g. a crashed
        // earlier run left a partial dir) falls back to re-extracting
        val data = Some(route(cachedListing)).filter(_.nonEmpty)
          .getOrElse(route(graft.util.Landing.extractZip(landed, extractDir)))
        if (data.isEmpty) throw new IllegalArgumentException(
          s"archive '$path' contains no stageable data file " +
            "(looked for .shp/.gpkg/.geojson/.json)")
        // recurse per extracted file (routing is now by actual extension,
        // so the archive-level stagedDataType hint is cleared) and union:
        // every reader lands on the same normalized feature schema
        data.map(p =>
            readSource(source.copy(url = p.toString, stagedDataType = None)))
          .reduce(_ unionByName _)
      case "file" | "atom_feed"
          if source.stagedDataType.contains("gpkg") ||
            path.toLowerCase.endsWith(".gpkg") =>
        // GeoPackage staging artifact: direct SQLite-walk reader (no JDBC
        // in this environment), same normalized schema as GeoJSON.
        GpkgSource.read(spark, path)
      case "file" | "atom_feed"
          if source.stagedDataType.contains("shapefile") ||
            path.toLowerCase.endsWith(".shp") =>
        // Shapefile staging artifact: direct .shp/.dbf/.prj decoder,
        // same normalized schema as GeoJSON.
        ShpSource.read(spark, path)
      case "file" | "atom_feed" =>
        GeoJsonSource.read(spark, path)
      case "rest_api" =>
        val layerIds = source.raw.get("layer_ids") match {
          case Some(l: java.util.List[_]) =>
            import scala.jdk.CollectionConverters._
            l.asScala.map(_.toString.toInt).toSeq
          case Some(s: Seq[_]) => s.map(_.toString.toInt)
          case _               => Seq.empty
        }
        val q = PagedRestSource.Query(
          whereClause = source.raw.get("where_clause").map(_.toString),
          outFields = source.raw.get("out_fields").map(_.toString)
            .filter(_ != "*").map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty),
          bbox = source.raw.get("bbox").map { b =>
            val Array(a, c, d, e) = b.toString.split(",").map(_.trim.toDouble)
            Geometry.BBox(a, c, d, e)
          })
        PagedRestSource.readService(spark, path, layerIds, q,
          discoveryTtlSeconds = discoveryTtl(source))
      case "ogc_api" =>
        val collections = source.raw.get("collections") match {
          case Some(l: java.util.List[_]) =>
            import scala.jdk.CollectionConverters._
            l.asScala.map(_.toString).toSeq
          case Some(s: Seq[_]) => s.map(_.toString)
          case _               => Seq.empty
        }
        val bbox = source.raw.get("bbox").map { b =>
          val Array(x0, y0, x1, y1) = b.toString.split(",").map(_.trim.toDouble)
          Geometry.BBox(x0, y0, x1, y1)
        }
        graft.sources.OgcApiSource.readService(spark, path, collections, bbox,
          discoveryTtlSeconds = discoveryTtl(source))
      case other =>
        throw new IllegalArgumentException(s"no reader for source type '$other'")
    }
  }

  /** Discovery-cache TTL for a source (R5): the `cache_ttl` raw config
    * field when present, else the performance.py:155 default (3600 s).
    * 0 disables caching for the source (every discovery refetches).
    * Parsed tolerantly — YAML loaders hand integers back as Int, Long,
    * Double ("3600.0") or String; an integral float is accepted, and a
    * genuinely malformed value fails as a CONFIG error naming the
    * source and field, not a bare NumberFormatException mid-staging.
    */
  private[pipeline] def discoveryTtl(source: Source): Long =
    source.raw.get("cache_ttl").map { v =>
      val s = v.toString.trim
      s.toLongOption
        .orElse(s.toDoubleOption.collect {
          case d if d.isWhole && math.abs(d) <= Long.MaxValue.toDouble => d.toLong
        })
        .getOrElse(throw new IllegalArgumentException(
          s"source '${source.name}': cache_ttl must be an integral number " +
            s"of seconds, got '$s'"))
    }.getOrElse(3600L)

  /** Stage one source: include-filter (T5), fc naming (F4/F6), lineage
    * columns, write to the staging database (K1-K4).
    */
  def stageSource(source: Source): Option[String] = {
    if (!source.enabled) { record(source, "stage", "skip"); return None } // T1
    try {
      // the name is reserved only once the stage succeeds, so a failed
      // source does not push later ones onto a `_1` suffix
      val fcName = Names.ensureUniqueName(
        Names.generateFcName(source.authority, source.name), usedNames.clone())
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$stagingDb`")
      // the ladder retries read AND write under degraded configs (its
      // concurrency/timeout knobs govern driver-side landing I/O): Spark
      // defers scan work to the write, so a decode/read failure surfaces
      // here, inside the ladder, where it can escalate. A deterministic
      // failure exhausts the 3 levels and falls through to the
      // continue-on-failure ledger below (recovery.py SKIP floor); schema
      // drift is a config fault and fails once, unescalated.
      val (n, lvl) = ladder.run(e => !e.isInstanceOf[EtlPipeline.SchemaDrift]) { _ =>
        val staged = includeFilter(source, readSource(source))
          .withColumn("source_id", lit(source.name))
          .withColumn("authority", lit(source.authority))
          .drop("_file")
        if (cfg.pinSchemas) checkPinnedSchema(fcName, staged)
        Cleanup.ensureWritable(spark, stagingDb, fcName)
        Publish.countedWrite(staged)(
          _.write.mode("overwrite").saveAsTable(s"`$stagingDb`.`$fcName`"))
      }
      usedNames += fcName
      if (lvl > 0) record(source, "stage", "degraded", level = lvl.toLong)
      record(source, "stage", "done", fcName, n)
      Some(fcName)
    } catch {
      case e: Exception =>
        record(source, "stage", "error", error = String.valueOf(e.getMessage))
        if (!cfg.continueOnFailure) throw e
        None
    }
  }

  /** Include-list semi-filter on the landed file stem (T5) — the stems
    * are a handful of config strings: isin == broadcast by construction.
    */
  private def includeFilter(source: Source, df: DataFrame): DataFrame =
    source.includeStems match {
      case Seq() => df
      case stems =>
        val stemCol = lower(regexp_replace(
          regexp_extract(col("_file"), "([^/]+)\\.[A-Za-z0-9]+$", 1), "^main\\.", ""))
        df.filter(stemCol.isin(stems.map(_.toLowerCase): _*))
    }

  private def checkPinnedSchema(fcName: String, staged: DataFrame): Unit =
    if (spark.catalog.tableExists(s"`$stagingDb`.`$fcName`")) {
      val existing = spark.table(s"`$stagingDb`.`$fcName`").schema
        .map(f => (f.name, f.dataType)).toSeq
      val incoming = staged.schema.map(f => (f.name, f.dataType)).toSeq
      if (existing != incoming)
        throw new EtlPipeline.SchemaDrift(
          s"schema drift on $fcName: staged ${incoming.mkString(",")} vs pinned ${existing.mkString(",")}")
    }

  /** Geoprocess in place (G1+G2, pipeline.py:408-460): skip silently when
    * no AOI is configured — the reference logs and no-ops
    * (pipeline.py:424-429, the 0.001s phase in the shipped run log).
    */
  def geoprocess(source: Source, fcName: String): Unit = {
    if (!cfg.geoprocessingEnabled || (cfg.aoi.isEmpty && cfg.aoiWkt.isEmpty)) {
      record(source, "geoprocess", "skip", fcName); return
    }
    try {
      val staged = spark.table(s"`$stagingDb`.`$fcName`")
      // exact polygon boundary when configured (the reference's actual
      // PairwiseClip semantics); bbox clip otherwise — same plan shape,
      // only the exact kernel differs
      val clipped = cfg.aoiWkt match {
        case Some(wkt) =>
          GeoFunctions.clipProjectAoi(staged, wkt, cfg.targetSrid)
        case None =>
          val (a, b, c, d) = cfg.aoi.get
          GeoFunctions.clipProject(staged, Geometry.BBox(a, b, c, d), cfg.targetSrid)
      }
      // in-place replace (Delete + CopyFeatures, geoprocess.py:79-81):
      // Spark can't overwrite a table from a plan that reads it, so the
      // clip is written once to a temp table that is then renamed over
      // the staged one — a catalog + directory move, not a second copy.
      val tmp = s"${fcName}__gp_tmp"
      Cleanup.ensureWritable(spark, stagingDb, tmp)
      val n = Publish.countedWrite(clipped)(
        _.write.mode("overwrite").saveAsTable(s"`$stagingDb`.`$tmp`"))
      spark.sql(s"DROP TABLE `$stagingDb`.`$fcName`")
      spark.sql(s"ALTER TABLE `$stagingDb`.`$tmp` RENAME TO `$stagingDb`.`$fcName`")
      record(source, "geoprocess", "done", fcName, n)
    } catch {
      case e: Exception =>
        record(source, "geoprocess", "error", fcName, error = String.valueOf(e.getMessage))
        if (!cfg.continueOnFailure) throw e
    }
  }

  /** Publish one staged table through the mapping overlay (K5-K7). */
  def publishTable(source: Source, fcName: String): Unit = {
    try {
      val mapping: OutputMapping = mappings.resolve(source, fcName)
      if (!mapping.enabled) { record(source, "publish", "skip", fcName); return }
      val n = Publish.publish(
        spark, spark.table(s"`$stagingDb`.`$fcName`"),
        mapping.sdeDataset, mapping.sdeFc, cfg.sdeLoadStrategy)
      record(source, "publish", "done", s"${mapping.sdeDataset}.${mapping.sdeFc}", n)
    } catch {
      case e: Exception =>
        record(source, "publish", "error", fcName, error = String.valueOf(e.getMessage))
        if (!cfg.continueOnFailure) throw e
    }
  }

  /** A5 preflight: the reference's default health checks
    * (monitoring.py:250-438) against this driver process and the
    * landing filestore, one ledger row per check (phase `health`,
    * status = the check's band, message in the error column when not
    * healthy). Overridable for custom monitors (the register_check
    * surface).
    */
  protected def healthMonitor(): graft.util.Health.Monitor =
    graft.util.Health.defaultMonitor(
      cfg.downloadDir.map(java.nio.file.Paths.get(_))
        .getOrElse(java.nio.file.Paths.get(".")))

  private def preflight(): Unit = {
    val st = healthMonitor().status()
    st.checks.toSeq.sortBy(_._1).foreach { case (name, c) =>
      ledger += LedgerRow("_preflight", "SYS", "health", c.status, name, 0,
        if (c.status == "healthy") "" else c.message)
    }
    // unhealthy aborts unless the run is declared continue-on-failure —
    // the same ladder every staging error rides (R3)
    if (st.status == "unhealthy" && !cfg.continueOnFailure)
      throw new IllegalStateException(
        "preflight health checks unhealthy: " + st.checks.values
          .filter(_.status == "unhealthy").map(_.message).mkString("; "))
  }

  /** The full run (SURVEY §3.1 steps 3-8). Declared source order. */
  def run(sources: Seq[Source]): Seq[LedgerRow] = {
    if (cfg.healthChecksEnabled) preflight()
    val staged = sources.flatMap(s => stageSource(s).map(s -> _))
    staged.foreach { case (s, fc) => geoprocess(s, fc) }
    staged.foreach { case (s, fc) => publishTable(s, fc) }
    results
  }
}

object EtlPipeline {
  /** One ledger row per (source, phase) — the Summary surface (A1):
    * phase ∈ {stage, geoprocess, publish}, status ∈ {done, skip, error}.
    * Top-level (not nested in the class) so the case-class type test
    * needs no outer-instance check.
    */
  final case class LedgerRow(
      source: String, authority: String, phase: String, status: String,
      table: String, rows: Long, error: String, level: Long = 0L)

  /** A staged frame whose schema differs from the pinned table's: a
    * config fault that no degraded retry can fix.
    */
  final class SchemaDrift(msg: String) extends IllegalStateException(msg)
}
