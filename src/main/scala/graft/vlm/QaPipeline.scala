package graft.vlm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QaPrimitives.{QaBatch, Unnumbered}

/** Registry-driven QA generation orchestration — the Spark re-expression of
  * QA_generation/generate_qa.py:41-171 (§3.1 query lifecycle):
  * scan → per-task transform → numbering (all tasks' pairs computed and
  * stored once) → per-task sink → combined sink → summary from the counts.
  *
  * Unlike the reference (whole corpus materialized in driver memory,
  * data_loader.py:40-53), the task rows stay on the executors; only their
  * per-partition counts reach the driver.
  */
object QaPipeline {

  /** Task registry (six 3D + three legacy 2D tasks); mirrors
    * config.py:17-88's dataset→tasks mapping by accepting an explicit task
    * list per run.
    */
  val taskRegistry: Map[String, DataFrame => Unnumbered] = QaTasks.all ++ QaTasks2D.all

  def validateTasks(tasks: Seq[String]): Unit = {
    val unknown = tasks.filterNot(taskRegistry.contains)
    require(unknown.isEmpty, s"unknown tasks: ${unknown.mkString(", ")}; known: ${taskRegistry.keys.toSeq.sorted.mkString(", ")}")
  }

  /** Run the given tasks over a frame corpus: their QA pairs are numbered
    * and stored together in one pass. The caller releases the batch.
    */
  def generate(
      frames: DataFrame,
      datasetName: String,
      tasks: Seq[String] = taskRegistry.keys.toSeq.sorted): QaBatch = {
    validateTasks(tasks)
    QaPrimitives.assignIds(datasetName, tasks.distinct.map(t => t -> taskRegistry(t)(frames)))
  }

  /** K4: summary — per-task question counts + totals
    * (generate_qa.py:147-163), built from the counts the storing job
    * returned rather than by re-aggregating the combined output. Tasks with
    * no questions are left out, as a grouped count leaves them out.
    */
  def summary(spark: SparkSession, counts: Map[String, Long], datasetName: String): DataFrame = {
    import spark.implicits._
    counts.filter(_._2 > 0).toSeq.sorted.toDF("task_type", "total_questions")
      .withColumn("dataset", lit(datasetName))
      .withColumn("generated_date", date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss"))
  }

  /** Full run: per-task JSON sinks (K2), the combined output (K3, every
    * task's pairs tagged with `task_type`) and the summary (K4). Every sink
    * reads the stored pairs; their storage is released when the run returns
    * or throws.
    */
  def run(
      spark: SparkSession,
      frames: DataFrame,
      datasetName: String,
      outDir: String,
      tasks: Seq[String] = taskRegistry.keys.toSeq.sorted): Map[String, Long] = {
    val batch = generate(frames, datasetName, tasks)
    try {
      batch.rows.foreach { case (t, df) =>
        df.write.mode("overwrite").json(s"$outDir/${datasetName}_${t}_qa")
      }
      batch.combined.write.mode("overwrite").json(s"$outDir/${datasetName}_all_qa_pairs")
      summary(spark, batch.counts, datasetName).coalesce(1).write.mode("overwrite").json(s"$outDir/${datasetName}_summary")
      batch.counts
    } finally batch.release()
  }
}
