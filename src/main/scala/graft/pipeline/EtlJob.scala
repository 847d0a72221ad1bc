package graft.pipeline

import graft.spreadScan
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** K1/K2 sinks (reference: scripts/etl_turbofan.py:119-146): parquet
  * warehouse writes with replace/append, partitioned by dataset and
  * sorted within partitions on the window key — the Spark analog of the
  * reference's (dataset, unit_nr) secondary indexes (sql/sqlite_ddl.sql:
  * 30-31); downstream window jobs then shuffle-and-sort data that is
  * already clustered.
  */
object TableIO {

  def writeTable(df: DataFrame, path: String, overwrite: Boolean,
      partitionCols: Seq[String] = Seq("dataset"),
      sortCols: Seq[String] = Seq("unit_nr", "time_cycles")): Unit = {
    val mode = if (overwrite) SaveMode.Overwrite else SaveMode.Append
    val parts = if (partitionCols.forall(df.columns.contains)) partitionCols else Nil
    // Partition columns lead the sort: the writer requires that order, and
    // a sort it adds on them alone would replace this one.
    val sorted =
      if (sortCols.forall(df.columns.contains))
        df.sortWithinPartitions((parts ++ sortCols).map(col): _*)
      else df
    val w = sorted.write.mode(mode)
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(path)
  }

  def readTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** CSV export (etl_turbofan.py:141-146). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
}

/** The two-pass ETL lifecycle (reference: scripts/etl_turbofan.py:151-216,
  * traced in SURVEY §3.1), over ONE parse of each input file:
  *
  * pass 1 (stats): parse every dataset once — hash-spread on `unit_nr`
  * and persisted — then one plain aggregate per dataset yields its row
  * count and variable sensors, intersected across datasets → the forced
  * common sensor set;
  * pass 2 (per dataset): project the persisted frame to the common set →
  * feature windows → write cycles_raw / cycles_features / units_summary,
  * first dataset replacing, the rest appending (U1 protocol).
  *
  * Each dataset's frame is released in a `finally`, so nothing stays
  * cached past the run and a rewritten input file is parsed afresh by the
  * next run.
  *
  * The spread is keyed on `unit_nr` alone: it satisfies both the
  * (dataset, unit_nr) feature window and the units_summary aggregate, so
  * neither adds an exchange above the cached scan and every write runs at
  * the session's shuffle parallelism. Keying on (dataset, unit_nr) would
  * not: `dataset` is a literal, which the optimizer folds into the
  * spread's hash expression, so the cached partitioning no longer
  * matches the consumers' clustering and a second exchange appears —
  * one that AQE coalesces into a single task.
  *
  * The reference crashes on its own print(json_body=...) calls at
  * etl_turbofan.py:70,77 — this implements the documented intent
  * (SURVEY §7.4.11).
  */
object EtlJob {

  case class DatasetInput(name: String, trainPath: String)
  case class Config(datasets: Seq[DatasetInput], windows: Seq[Int] = Seq(5, 20),
      warehouseDir: String, nSensors: Int = 21, exportCsv: Boolean = false)

  case class Result(sensors: Seq[String], rowsPerDataset: Map[String, Long])

  def run(spark: SparkSession, cfg: Config): Result = {
    val frames = cfg.datasets.map(ds => spreadScan(
      CmapssReader.read(spark, ds.trainPath, ds.name, cfg.nSensors),
      col("unit_nr")).persist())
    try {
      // Pass 1 — statistics: rows and variable sensors, intersected.
      val stats = SensorStats.profile(frames, CmapssSchema.sensorCols(cfg.nSensors))

      // Pass 2 — per dataset: project, feature, write (replace then append).
      cfg.datasets.zip(frames).zipWithIndex.foreach { case ((ds, raw), i) =>
        val base = raw.select(
          (Seq("dataset") ++ CmapssSchema.keyCols ++ CmapssSchema.settingCols ++
            stats.common).map(col): _*)
        val feat = FeatureEngineering.features(base, stats.common, cfg.windows)
        val overwrite = i == 0
        TableIO.writeTable(base, s"${cfg.warehouseDir}/cycles_raw", overwrite)
        TableIO.writeTable(feat, s"${cfg.warehouseDir}/cycles_features", overwrite)
        TableIO.writeTable(UnitsSummary(base), s"${cfg.warehouseDir}/units_summary",
          overwrite, partitionCols = Seq("dataset"), sortCols = Seq("unit_nr"))
        if (cfg.exportCsv)
          TableIO.writeCsv(feat, s"${cfg.warehouseDir}/cycles_features_csv/${ds.name}")
      }
      Result(stats.common, cfg.datasets.map(_.name).zip(stats.rows).toMap)
    } finally frames.foreach(_.unpersist())
  }
}
