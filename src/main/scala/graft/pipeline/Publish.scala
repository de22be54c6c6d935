package graft.pipeline

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.functions.{Naming => Names}

/** Table publishing strategies (K5, pipeline.py:672-745): the SDE
  * truncate-and-load / replace / append semantics mapped 1:1 onto Spark
  * managed-table writes.
  *
  * Scale note: truncate-and-load is `INSERT OVERWRITE` (dynamic file
  * replacement, no row-by-row delete); replace recreates metadata; append
  * is an additive file commit. All three are metadata + file ops — no
  * shuffle beyond what the input plan carries.
  */
object Publish {

  /** Spark-safe namespace for an SDE dataset: `GNG.Underlag_SKS` →
    * database `gng_underlag_sks`.
    */
  def datasetDb(sdeDataset: String): String =
    Names.sanitizeForArcgisName(sdeDataset.replace('.', '_')).toLowerCase

  def ensureDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  def tableExists(spark: SparkSession, db: String, table: String): Boolean =
    spark.catalog.tableExists(s"`$db`.`$table`")

  /** Returns the table's rows after the publish (GetCount verification,
    * pipeline.py:640-647). Strategy ∈ {truncate_and_load, replace,
    * append}: the first two count the write itself; append reports the
    * table's total, so it reads the table back.
    */
  def publish(
      spark: SparkSession,
      df: DataFrame,
      sdeDataset: String,
      sdeFc: String,
      strategy: String = "truncate_and_load"): Long = {
    val db    = datasetDb(sdeDataset)
    val table = Names.sanitizeSdeName(sdeFc).toLowerCase
    val fqn   = s"`$db`.`$table`"
    ensureDatabase(spark, db)
    Cleanup.ensureWritable(spark, db, table) // orphan-location guard (R8)
    strategy match {
      case "truncate_and_load" =>
        if (tableExists(spark, db, table)) {
          // TruncateTable + Append(NO_TEST) ≡ INSERT OVERWRITE by position
          // into the existing schema (pipeline.py:685-697).
          countedWrite(df)(_.write.mode("overwrite").insertInto(fqn))
        } else {
          countedWrite(df)(_.write.saveAsTable(fqn)) // create path (pipeline.py:729-745)
        }
      case "replace" =>
        spark.sql(s"DROP TABLE IF EXISTS $fqn") // pipeline.py:698-716
        countedWrite(df)(_.write.saveAsTable(fqn))
      case "append" =>
        df.write.mode("append").saveAsTable(fqn) // pipeline.py:717-725
        spark.table(fqn).count()
      case other =>
        throw new IllegalArgumentException(s"unknown sde_load_strategy '$other'")
    }
  }

  /** Runs `write` over `df` and returns the rows it wrote, counted by an
    * `Observation` on that same job (T7) rather than by re-reading the
    * table. The metrics are posted as the write finishes; the bounded
    * wait only turns a lost notification into an error, not a hang.
    */
  private[pipeline] def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = new Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    Await.result(obs.future, 5.minutes).getLong(0)
  }

  /** Publish a feature frame as a `graft-rest` applyEdits session (the
    * reference's REST upload path, `sde_loader`-style edit batching) —
    * an atomic two-phase-commit spool: see
    * [[graft.sources.v2.RestWriteBuilder]]. `overwrite` truncates the
    * previous session (truncate-and-load); append adds to it.
    */
  def publishRestEdits(
      df: DataFrame,
      spoolDir: String,
      overwrite: Boolean = true): Unit =
    df.write.format("graft-rest")
      .mode(if (overwrite) "overwrite" else "append")
      .save(spoolDir)
}
