package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]: end-to-end samples,
  * per-layer values (traced runs), and the facts the output checks read.
  */
final case class Result(
    samples: Map[String, Seq[Double]],
    layers: Map[String, Double],
    checks: Map[String, Any])

/** Shared state of one run: the session, the trace, the input and work
  * directories and the measuring budget.
  */
final class Ctx(val spark: SparkSession, val tr: Trace, val inputs: Path,
    val work: Path, val seconds: Double, val sessionS: Double) {
  /** (start, end) epoch ms of every timed pass */
  val passes = mutable.ArrayBuffer[(Double, Double)]()
  /** (start, end) epoch ms of [[untimed]] work inside the passes */
  val gaps = mutable.ArrayBuffer[(Double, Double)]()

  /** Time one pass of the workload, less its [[untimed]] gaps; traced,
    * its engine counters land in the "timed" window and it becomes a
    * root span.
    */
  def timed[T](req: String)(body: => T): (T, Double) = {
    val a = tr.nowMs
    val out = tr.window("timed")(tr.span("pass", req)(body))
    val b = tr.nowMs
    passes += ((a, b))
    val secs = (b - a - gapMs(a, b)) / 1000.0
    System.err.println(f"[perfbench] pass $req: $secs%.2f s")
    (out, secs)
  }

  /** Benchmark-only work inside a pass (traced runs' inspections): its
    * wall time, engine counters and stage skews are left out of the pass.
    */
  def untimed[T](body: => T): T = {
    val a = tr.nowMs
    val out = tr.excluded(body)
    gaps += ((a, tr.nowMs))
    out
  }

  private def gapMs(a: Double, b: Double): Double =
    gaps.filter { case (s, _) => s >= a && s <= b }.map { case (s, e) => e - s }.sum

  /** The timed intervals: every pass with its gaps cut out. */
  def timedIntervals: Seq[(Double, Double)] = passes.toSeq.flatMap { case (a, b) =>
    val cuts = gaps.filter { case (s, _) => s >= a && s <= b }.sortBy(_._1)
    val starts = a +: cuts.map(_._2)
    val ends = cuts.map(_._1) :+ b
    starts.zip(ends)
  }

  /** `body`'s result and its wall seconds. */
  def time[T](body: => T): (T, Double) = Main.timeIt(body)

  /** Run iterations until the next one would overrun the budget. */
  def loop(minIters: Int, maxIters: Int = Int.MaxValue)(iter: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var k = 0
    var last = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (k < maxIters && (k < minIters || elapsed + last <= seconds)) {
      val s = System.nanoTime()
      iter(k)
      last = (System.nanoTime() - s) / 1e9
      k += 1
    }
    k
  }

  def read(name: String): String =
    new String(Files.readAllBytes(inputs.resolve(name)), "UTF-8")

  /** Bytes of every regular file under `p` (0 when absent). */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      } finally s.close()
    }
}

/** The benchmark's JVM side:
  * `Main --workload W --inputs DIR --work DIR --seconds N --trace 0|1 --out FILE`.
  * Runs the workload against inputs written beforehand by the generator,
  * and writes a JSON result that the launcher checks and reports.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val traced = o("trace") == "1"
    val work = Paths.get(o("work")).toAbsolutePath
    val tr = new Trace(traced)
    val (spark, sessionS) = timeIt(session(work, traced))
    tr.attach(spark)
    val ctx = new Ctx(spark, tr, Paths.get(o("inputs")).toAbsolutePath, work,
      o("seconds").toDouble, sessionS)
    val res = o("workload") match {
      case "etl_geo"      => EtlGeo.run(ctx)
      case "corpus_index" => CorpusIndex.run(ctx)
      case w             => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val layers =
      if (!traced) Map.empty[String, Double]
      else res.layers ++ engineLayers(ctx) ++ calibrate(spark)
    tr.write(Paths.get(o("spans")))
    val out = Map(
      "samples" -> res.samples,
      "layers" -> layers,
      "checks" -> res.checks,
      "session_s" -> sessionS,
      "peak_rss_mb" -> peakRssMb())
    spark.stop()
    Files.write(Paths.get(o("out")), Json.write(out).getBytes("UTF-8"))
  }

  def timeIt[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t) / 1e9)
  }

  /** The session as graft.Bench configures it: local[cores], shuffle
    * partitions = cores, AQE on, the graft extensions and the RocksDB
    * state store; warehouse and scratch space under the run's work dir.
    */
  def session(work: Path, traced: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt").toString)
    if (traced) Counters.SessionConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.install(spark)
    if (graft.streaming.StateStores.resolveProvider(spark).isEmpty)
      spark.conf.set(graft.streaming.StateStores.ProviderKey,
        graft.streaming.StateStores.RocksDb)
    spark
  }

  /** Engine counters over the timed passes, per pass. */
  def engineLayers(c: Ctx): Map[String, Double] = {
    val n = math.max(1, c.passes.size).toDouble
    val t = c.tr.counters("timed")
    Map(
      "spark.jobs" -> t.jobs / n,
      "spark.tasks" -> t.tasks / n,
      "spark.exec_cpu_s" -> t.cpuNs / 1e9 / n,
      "spark.exec_run_s" -> t.runMs / 1e3 / n,
      "spark.input_bytes" -> t.inputBytes / n,
      "spark.output_bytes" -> t.outputBytes / n,
      "spark.shuffle_write_bytes" -> t.shuffleWriteBytes / n,
      "spark.shuffle_records" -> t.shuffleRecords / n,
      "spark.spill_bytes" -> t.spillBytes / n,
      "spark.task_skew" -> c.tr.worstSkew("timed"),
      "catalyst.plan_ms" -> t.planMs / n,
      "spark.driver_idle_s" -> c.tr.idleSeconds(c.timedIntervals) / n,
      "trace.run_s" -> c.timedIntervals.map { case (a, b) => (b - a) / 1000 }.sum / n,
      "trace.overhead_s" -> c.tr.overheadNs / 1e9 / n,
      "trace.span_coverage" -> spanCoverage(c))
  }

  /** Share of the timed passes' wall time (gaps cut out) that falls
    * inside a layer span: a direct child of a pass that is not the
    * benchmark's own ("trace.*").
    */
  def spanCoverage(c: Ctx): Double = {
    val passIds = c.tr.spans.filter(_.name == "pass").map(_.id).toSet
    val inLayers = c.tr.spans.filter(s => passIds(s.parent) && !s.name.startsWith("trace."))
      .map(s => s.end - s.start).sum
    val wall = c.timedIntervals.map { case (a, b) => b - a }.sum
    if (wall <= 0) 0.0 else inLayers / wall
  }

  /** The graft.Bench calibration pair (pure CPU; tiny shuffle), each the
    * median of three after one warm run, so drift on a shared box can be
    * told apart from a code change.
    */
  def calibrate(spark: SparkSession): Map[String, Double] = {
    def med(body: => Unit): Double = {
      body
      val ts = (1 to 3).map(_ => timeIt(body)._2).sorted
      ts(1)
    }
    val cpu = med {
      spark.range(0, 10000000L, 1, 1)
        .selectExpr("sum(pmod(xxhash64(id), 1000000))").collect()
      ()
    }
    val shuffle = med {
      spark.range(0, 1000000L).selectExpr("id % 1000 as k")
        .groupBy("k").count()
        .agg(org.apache.spark.sql.functions.sum("count")).collect()
      ()
    }
    Map("box.cpu_probe_s" -> cpu, "box.shuffle_probe_s" -> shuffle)
  }

  /** Peak resident memory of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
  }
}
