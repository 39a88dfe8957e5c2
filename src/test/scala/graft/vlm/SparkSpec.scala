package graft.vlm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (small parallelism: tiny fixtures). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up

  /** One QA task's numbered pairs, numbered as a pipeline run numbers them. */
  def qaPairs(frames: DataFrame, datasetName: String, task: String): Array[Row] = {
    val batch = QaPipeline.generate(frames, datasetName, Seq(task))
    try batch.rows(task).collect() finally batch.release()
  }
}

object SparkSpec {
  /** Small parallelism for tiny fixtures; no corpus, so the 1× start. */
  val Cores = 4

  /** The session profile every main runs ([[graft.GraftSession.settings]]). */
  lazy val session: SparkSession = {
    val s = graft.GraftSession.builder(Cores, None).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
