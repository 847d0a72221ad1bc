package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Orchestration runner — the engine-side analog of the reference's
  * Prefect daily flow (scripts/prefect_workflow.py:5-35: ordered tasks
  * etl → dbt → train → score, `@task(retries=2, retry_delay_seconds=60)`)
  * and the n8n ordered pipeline. Stages run strictly in order; a stage
  * that throws is retried up to its retry budget, a stage that exhausts
  * it fails the flow and downstream stages are skipped (Prefect's
  * failed-upstream semantics). Stages communicate only through the
  * warehouse (parquet tables), exactly like the reference's
  * subprocess-per-stage flow — so a retried stage re-reads consistent
  * inputs and the runner holds no data on the driver.
  */
object PipelineRunner {

  /** One named stage: `run` performs side effects (reads/writes tables).
    * `retries` = extra attempts after the first (reference: retries=2).
    */
  case class Stage(name: String, retries: Int, run: () => Unit)

  sealed trait Outcome
  case object Succeeded extends Outcome
  case class Failed(error: String) extends Outcome
  case object Skipped extends Outcome

  case class StageReport(name: String, attempts: Int, outcome: Outcome)
  case class RunReport(stages: Seq[StageReport]) {
    def succeeded: Boolean = stages.forall(_.outcome == Succeeded)
  }

  /** Execute stages in order with per-stage retry. `sleep` is injectable
    * so specs run without real retry delays.
    */
  def run(stages: Seq[Stage], retryDelayMs: Long = 0,
      sleep: Long => Unit = Thread.sleep): RunReport = {
    var failed = false
    val reports = stages.map { st =>
      if (failed) StageReport(st.name, 0, Skipped)
      else {
        var attempt = 0
        var lastError: Option[String] = None
        var done = false
        while (!done && attempt <= st.retries) {
          if (attempt > 0 && retryDelayMs > 0) sleep(retryDelayMs)
          attempt += 1
          try { st.run(); done = true; lastError = None }
          catch { case e: Exception => lastError = Some(e.toString) }
        }
        if (!done) failed = true
        StageReport(st.name, attempt,
          lastError.map(Failed(_)).getOrElse(Succeeded))
      }
    }
    RunReport(reports)
  }

  /** The concrete daily flow over the events table: feature ETL →
    * validation → train → score, chained through `warehouseDir` parquet
    * tables (each stage reads only what the previous wrote, like the
    * reference's run_etl → dbt run → train → score subprocess chain).
    */
  def dailyFlow(s: SparkSession, dataDir: String, warehouseDir: String,
      retries: Int = 2): Seq[Stage] = Seq(
    Stage("etl_features", retries, () =>
      graft.operators.Windows.featureFrame(s, dataDir)
        .na.drop(Seq("d_value", "z_value"))
        .write.mode("overwrite").parquet(s"$warehouseDir/features")),
    Stage("validate", retries, () => {
      val n = s.read.parquet(s"$warehouseDir/features").count()
      require(n > 0, s"feature table is empty")
    }),
    Stage("train", retries, () => {
      val feat = s.read.parquet(s"$warehouseDir/features")
      val Seq((_, est)) = MlPipeline
        .candidateModels(Seq("mean5_value", "mean20_value", "z_value"), "rul")
        .filter(_._1 == "decision_tree")
      val model = est.fit(feat).asInstanceOf[org.apache.spark.ml.PipelineModel]
      MlPipeline.saveModel(model, s"$warehouseDir/model")
    }),
    Stage("score", retries, () => {
      val feat = s.read.parquet(s"$warehouseDir/features")
      MlPipeline.loadModel(s"$warehouseDir/model").transform(feat)
        .select(col("event_id"), col("user_id"),
          greatest(col("prediction"), lit(0.0)).as("predicted_rul"))
        .write.mode("overwrite").parquet(s"$warehouseDir/predictions")
    }))
}
