package graft.bench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Clusters, Dedup, Packing, Sampling, Similarity}
import graft.streaming.AnnIngestStream
import graft.util.Checkpoints

/** `corpus_index`: the LLM data tier. Each pass is one cycle of it:
  *  - corpus prep, q123's chain at a realistic size: one text pass of the
  *    fused kernels (quality, language, PII mask, fingerprint, MinHash
  *    signature) → exact dedup → near-dup pairs → duplicate clusters →
  *    pack → hash split → parquet. Each step is staged, so each is one
  *    span and its cost lands in its own layer;
  *  - one round of the maintained indexes under writes beside reads: a
  *    vector batch and a delete batch streamed into the IVF-PQ index, a
  *    document batch probed against the MinHash band index with its
  *    non-duplicates folded in, a document delete batch, single-query
  *    serves of live vectors, then both indexes compacted.
  * Set-up runs the chain once over a small disjoint corpus (so passes do
  * not pay the cold session's first use) and builds both base indexes on
  * fresh roots.
  */
object CorpusIndex {
  /** The chain over `corpus`, writing the split to `out`: (survivors,
    * near-dup pairs, signatures, the staged frames to release).
    */
  def chain(c: Ctx, corpus: String, out: String)
      : (Long, DataFrame, DataFrame, Seq[Checkpoints.Staged]) = {
    val tr = c.tr
    val staged = mutable.ArrayBuffer[Checkpoints.Staged]()
    def stage(df: DataFrame): DataFrame = {
      val s = Checkpoints.stageOwned(df)
      staged += s
      s.df
    }
    val meta = tr.span("plans.text_pass")(stage(
      c.spark.read.parquet(corpus)
        .select(col("doc_id"), col("text"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .filter(col("quality") >= 60)
        .withColumn("_tk", TextFunctions.loweredTokens(col("text")))
        .select(col("doc_id"), col("quality"),
          TextFunctions.langId(col("text")).as("lang"),
          TextFunctions.maskPii(col("text")).as("text"),
          TextFunctions.fingerprint(col("text")).as("fp"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          when(size(col("_tk")) >= 3, graft.plans.MinHashSigExpr(
            TextFunctions.shinglesFromTokens(col("_tk"), 3))).as("sig"))))
    val deduped = tr.span("operators.exact_dedup")(stage(
      meta.join(meta.groupBy("fp").agg(min("doc_id").as("doc_id")).select("doc_id"),
        Seq("doc_id"), "left_semi")))
    val sigs = deduped.filter(col("sig").isNotNull).select("doc_id", "sig")
    val pairs = tr.span("operators.neardup_pairs")(stage(
      Dedup.minhashNearDupPairsFromSigs(sigs)))
    val drop = tr.span("operators.clusters")(stage(Clusters.duplicatesToDrop(pairs)))
    val n = tr.span("operators.pack_split") {
      val survivors = stage(deduped.join(drop, Seq("doc_id"), "left_anti")
        .select("doc_id", "quality", "lang", "n_tokens", "text"))
      Sampling.hashSplit(
          Packing.concatPack(survivors, orderCol = "doc_id", weightCol = "n_tokens",
            budget = 4096L),
          "doc_id", Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .write.parquet(out)
      survivors.count()
    }
    (n, pairs, sigs, staged.toSeq)
  }

  def run(c: Ctx): Result = {
    val spark = c.spark
    import spark.implicits._
    val tr = c.tr
    def pq(name: String): DataFrame = spark.read.parquet(c.inputs.resolve(name).toString)
    val corpus = c.inputs.resolve("corpus.parquet").toString
    val nRounds = Iterator.from(0).takeWhile(r =>
      Files.exists(c.inputs.resolve(s"vec_r$r.parquet"))).size
    // the serving client holds its query vectors before it asks
    val queryVecs = (0 until nRounds).map { r =>
      pq(s"queries_r$r.parquet").as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    }
    val prefix = "bandidx"
    val vecBase = pq("vec_base.parquet")
    val (path, setupS) = c.time {
      chain(c, c.inputs.resolve("warm.parquet").toString,
        c.work.resolve("split_warm").toString)._4.foreach(_.release())
      val (p, _) = Similarity.ensureIvfPqIndex(vecBase, "bench")
      Dedup.ensureMinhashBandIndex(pq("doc_base.parquet"), prefix, "bench")
      p
    }
    System.err.println(f"[perfbench] set-up: $setupS%.2f s")
    val samples = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    val corpusPasses, rounds = mutable.ArrayBuffer[Map[String, Any]]()
    val files = mutable.ArrayBuffer[(Double, Double)]()
    val tombstones = mutable.ArrayBuffer[Double]()
    var candidates, verified = 0L
    var embeddings = vecBase
    val nDocs = spark.read.parquet(corpus).count()
    c.loop(minIters = 1, maxIters = nRounds) { r =>
      val rt = s"r$r"
      val out = c.work.resolve(s"split_$r")
      val vb = pq(s"vec_r$r.parquet")
      val batch = pq(s"doc_r$r.parquet")
      val nVec = vb.count()
      val nDoc = batch.count()
      val (((survivors, pairs, sigs, staged), dups, served, writeS), secs) = c.timed(rt) {
        val (prepped, corpusS) = c.time(chain(c, corpus, out.toString))
        sample("corpus_run_s", corpusS)
        val (_, annS) = c.time(tr.span("index.fold", rt)(
          AnnIngestStream.drainIngestPq(Seq(vb), path, rt)))
        tr.span("index.delete", rt)(
          AnnIngestStream.drainDeletes(Seq(pq(s"vecdel_r$r.parquet")), path, s"$rt-del"))
        embeddings = embeddings.unionByName(vb)
        val (dups, bandS) = c.time {
          val dups = tr.span("index.band_probe", rt) {
            val (bands, sigs) = Dedup.currentIndexTables(spark, prefix)
            Dedup.incrementalNearDupPairs(batch, bands, sigs)
              .select("new_doc").distinct().as[Long].collect().toSeq
          }
          tr.span("index.band_fold", rt)(Dedup.foldIntoMinhashBandIndex(
            batch.filter(!col("doc_id").isin(dups: _*)), prefix, rt))
          dups
        }
        tr.span("index.band_delete", rt)(Dedup.deleteFromMinhashBandIndex(
          pq(s"docdel_r$r.parquet"), prefix, s"$rt-del"))
        val served = queryVecs(r).map { case (qid, v) =>
          val (ids, s) = c.time(tr.window("serve")(tr.span("index.serve", s"$rt-q$qid")(
            Similarity.ivfPqProbeRerank(spark, path, embeddings, v, k = 10,
              exclude = Some(qid)).select("vec_id").as[Long].collect().toSeq)))
          sample("serve_ms", s * 1000)
          ids
        }
        if (tr.enabled) c.untimed(tr.span("trace.inspect")(inspect(c, path, files, tombstones)))
        tr.window("compact") {
          tr.span("index.compact", rt)(Similarity.compactIvfCells(spark, path))
          tr.span("index.band_compact", rt)(Dedup.compactMinhashBandIndex(spark, prefix))
        }
        sample("ann_vecs_per_s", nVec / annS)
        sample("band_docs_per_s", nDoc / bandS)
        (prepped, dups, served, annS + bandS)
      }
      sample("run_s", secs)
      sample("ingest_per_s", (nVec + nDoc) / writeS)
      // outside the timed pass: facts for the checks, bytes on disk
      val found = pairs.select("doc_a", "doc_b").collect().map(p => Seq(p.getLong(0), p.getLong(1)))
      if (tr.enabled) {
        // every banding candidate passes a 0 % threshold
        candidates += Dedup.minhashNearDupPairsFromSigs(sigs, minEstJaccardPct = 0).count()
        verified += found.length
      }
      staged.foreach(_.release())
      sample("corpus_bytes_per_row", c.du(out).toDouble / math.max(1L, survivors))
      corpusPasses += Map("survivors" -> survivors, "pairs" -> found.toSeq, "out" -> out.toString)
      val annLive = Similarity.ivfCellStats(spark, path).agg(sum("n_vecs")).as[Long].head()
      val bandLive = liveDocs(c, prefix)
      rounds += Map("served" -> served, "dup_docs" -> dups, "ann_live" -> annLive,
        "band_live" -> bandLive)
      sample("bytes_per_item",
        (c.du(Paths.get(path)) + bandBytes(c, prefix)).toDouble / math.max(1L, annLive + bandLive))
    }
    sample("setup_s", c.sessionS + setupS)
    Result(samples.map { case (k, v) => k -> v.toSeq }.toMap,
      if (tr.enabled) layers(c, candidates, verified, files.toSeq, tombstones.toSeq) else Map.empty,
      Map("passes" -> corpusPasses.toSeq, "iterations" -> Seq(rounds.toSeq), "docs" -> nDocs))
  }

  def layers(c: Ctx, candidates: Long, verified: Long,
      files: Seq[(Double, Double)], tombstones: Seq[Double]): Map[String, Double] = {
    val tr = c.tr
    val n = math.max(1, c.passes.size).toDouble
    val self = tr.selfSeconds
    val serve = tr.spans.filter(_.name == "index.serve").map(s => s.end - s.start).sorted
    def pct(p: Double) =
      if (serve.isEmpty) 0.0 else serve(math.min(serve.size - 1, (p * serve.size).toInt))
    val timed = tr.counters("timed")
    Seq("plans.text_pass", "operators.exact_dedup", "operators.neardup_pairs",
      "operators.clusters", "operators.pack_split", "index.fold", "index.delete",
      "index.band_probe", "index.band_fold", "index.band_delete", "index.compact",
      "index.band_compact", "index.serve")
      .map(l => s"${l}_s" -> self.getOrElse(l, 0.0) / n).toMap ++ Map(
        "operators.candidate_pairs" -> candidates / n,
        "operators.verified_pairs" -> verified / n,
        "operators.pair_yield" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates),
        "index.compact_bytes_rewritten" -> tr.counters("compact").outputBytes / n,
        "index.serve_p50_ms" -> pct(0.5),
        "index.serve_p90_ms" -> pct(0.9),
        "index.files_per_cell_mean" -> mean(files.map(_._1)),
        "index.files_per_cell_max" -> (if (files.isEmpty) 0.0 else files.map(_._2).max),
        "index.tombstone_rows" -> mean(tombstones),
        "index.rows_scanned_per_serve" ->
          tr.counters("serve").inputRecords.toDouble / math.max(1, serve.size),
        "streaming.batches" -> timed.batches / n,
        "streaming.trigger_ms" -> timed.triggerMs / n,
        "streaming.add_batch_ms" -> timed.addBatchMs / n,
        "streaming.planning_ms" -> timed.planningMs / n,
        "streaming.wal_commit_ms" -> timed.walCommitMs / n)
  }

  /** The read-side debt the round's serves saw, before compaction: data
    * files per IVF cell and tombstoned rows still stored.
    */
  def inspect(c: Ctx, path: String, files: mutable.ArrayBuffer[(Double, Double)],
      tombstones: mutable.ArrayBuffer[Double]): Unit = {
    val perCell = cellFileCounts(local(Similarity.activeCellsDir(c.spark, path)))
    if (perCell.nonEmpty) files += ((perCell.sum.toDouble / perCell.size, perCell.max.toDouble))
    val tomb = Similarity.standingTombstoneFiles(c.spark, path)
    tombstones += (if (tomb.isEmpty) 0.0 else c.spark.read.parquet(tomb: _*).count().toDouble)
  }

  def local(p: String): java.nio.file.Path =
    Paths.get(if (p.startsWith("file:")) new java.net.URI(p).getPath else p)

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Live documents of the band index: indexed ids minus standing deletes. */
  def liveDocs(c: Ctx, prefix: String): Long = {
    val (bands, sigs) = Dedup.currentIndexTables(c.spark, prefix)
    val ids = c.spark.table(sigs).select("doc_id").distinct()
    Dedup.standingDels(c.spark, bands)
      .map(d => ids.join(d.select("doc_id").distinct(), Seq("doc_id"), "left_anti"))
      .getOrElse(ids).count()
  }

  /** Bytes of every table of the band-index lineage in the warehouse. */
  def bandBytes(c: Ctx, prefix: String): Long = {
    val wh = local(c.spark.conf.get("spark.sql.warehouse.dir"))
    val s = Files.list(wh)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).map(c.du).sum
    } finally s.close()
  }

  /** Data files per `cent_id=` cell directory of a cells generation. */
  def cellFileCounts(cells: java.nio.file.Path): Seq[Int] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(cells)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("cent_id=")).map { d =>
      val f = Files.list(d)
      try f.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally f.close()
    }.toSeq
    finally s.close()
  }
}
