package graft.vlm

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

/** QA assembly primitives (qa_base.py:68-137) shared by the task generators
  * and the oracle-checked query catalog: seeded distractor generation and
  * the seeded option shuffle → answer letter. Pure column programs built on
  * md5, so both Spark and the DuckDB oracle can replay them bit-identically.
  * Also the numbering of the tasks' QA pairs with contiguous ids.
  */
object QaPrimitives {
  import GeoFunctions.seededUniform

  val letters: Column = array((0 until 8).map(i => lit(('A' + i).toChar.toString)): _*)

  /** Seeded distractor for a numeric answer with a percent range
    * (qa_base.py:68-109): mult ∈ [lo, hi), clamp to ≥ 0.1, nudge ×1.2 on
    * exact collision — the reference's exact post-processing chain.
    */
  def distractor(answer: Column, seedKey: Column, k: Int, range: (Double, Double)): Column = {
    val u = seededUniform(concat(seedKey, lit(s":d$k")))
    val raw = answer * (lit(range._1) + u * (range._2 - range._1))
    val clamped = greatest(raw, lit(0.1))
    when(clamped === answer, answer * 1.2).otherwise(clamped)
  }

  /** The [[FrameSchema.QaPair]] columns after `id`. */
  val PairColumns: Seq[String] = Seq("question", "answer", "answer_type", "options", "metadata")

  /** A task's QA pairs before numbering: a frame holding the
    * [[PairColumns]], and the keys of the stable total order its ids follow.
    */
  final case class Unnumbered(df: DataFrame, order: Seq[Column])

  /** QA pairs of several tasks, numbered and stored together once:
    * `rows(task)` reads one task's six [[FrameSchema.QaPair]] columns,
    * `combined` reads every task's, tagged with `task_type`, and `counts`
    * holds each task's number of pairs. `release()` frees the storage.
    */
  final class QaBatch private[vlm] (
      val rows: Map[String, DataFrame],
      val combined: DataFrame,
      val counts: Map[String, Long],
      stored: RDD[_]) {
    def release(): Unit = stored.unpersist(blocking = false)
  }

  /** Contiguous per-task QA ids `{dataset}_{task}_{n:06d}` in each task's
    * stable total order (qa_base.py:54-65 / SURVEY W6), for all tasks in one
    * distributed pass:
    *   1. project every task to the [[PairColumns]] plus its order keys and
    *      a task index, so the exchange carries output columns only;
    *   2. range-partition the union on (task, keys) and sort within
    *      partitions; `monotonically_increasing_id()` records each row's
    *      partition and position;
    *   3. store the rows once (local checkpoint); the storing job also
    *      returns each partition's row count per task;
    *   4. id = the task's rows in earlier partitions + the row's position
    *      in its partition − the earlier tasks' rows there, one literal
    *      offset per (task, partition).
    * Every sink then reads the stored rows, and no row leaves Catalyst's
    * internal format. A bare `row_number() over (ORDER BY ...)` would move
    * every row to a single partition — the one W6 shape that cannot ship at
    * corpus scale. Ids equal `row_number() - 1` over a task's order as long
    * as its order key is unique.
    */
  def assignIds(datasetName: String, tasks: Seq[(String, Unnumbered)]): QaBatch = {
    require(tasks.nonEmpty, "no QA tasks to number")
    // one key column per (position, type) across the tasks: a task fills the
    // columns of its own key types and leaves the rest null, so sorting on
    // (task, every key column) orders each task by its own keys
    val keyTypes = tasks.map { case (_, u) => u.df.select(u.order: _*).schema.map(_.dataType) }
    val slots = keyTypes.flatMap(_.zipWithIndex.map(_.swap)).distinct.sortBy { case (pos, t) => (pos, t.catalogString) }
    val keys = slots.indices.map(i => s"_k$i")
    val pair = PairColumns.map(col)
    val parts = tasks.zip(keyTypes).zipWithIndex.map { case (((_, u), types), t) =>
      val keyCols = slots.zip(keys).map { case ((pos, dt), k) =>
        (if (types.lift(pos).contains(dt)) u.order(pos) else lit(null).cast(dt)).as(k)
      }
      u.df.select((lit(t).as("_task") +: pair) ++ keyCols: _*)
    }
    val order = col("_task") +: keys.map(col)
    val sorted = parts.reduce(_.unionByName(_))
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .select((col("_task") +: pair) :+ monotonically_increasing_id().as("_mid"): _*)
    val n = tasks.length
    val (stored, counts) = shims.localCheckpoint(sorted) { rows =>
      val c = new Array[Long](n)
      rows.foreach(r => c(r.getInt(0)) += 1)
      c
    }
    val byTask = (0 until n).map(t => counts.map(_(t)))
    val earlierPartitions = byTask.map(_.scanLeft(0L)(_ + _))
    val earlierTasks = counts.map(_.scanLeft(0L)(_ + _))
    val offsets = Seq.tabulate(n, counts.length)((t, p) => earlierPartitions(t)(p) - earlierTasks(p)(t))
    // monotonically_increasing_id = partition index << 33 | position
    val partition = shiftright(col("_mid"), 33).cast("int")
    val position = col("_mid").bitwiseAND(lit((1L << 33) - 1))
    val task = element_at(typedLit(tasks.map(_._1)), col("_task") + 1)
    val id = format_string("%s_%s_%06d", lit(datasetName), task,
      element_at(element_at(typedLit(offsets), col("_task") + 1), partition + 1) + position).as("id")
    def scan(keep: Int => Boolean) = shims.scanStored(sorted.sparkSession, stored, sorted.schema, keep)
    val rows = tasks.zipWithIndex.map { case ((name, _), t) =>
      name -> scan(counts(_)(t) > 0).filter(col("_task") === t).select(id +: pair: _*)
    }
    new QaBatch(
      rows.toMap,
      scan(_ => true).select((id +: pair) :+ task.as("task_type"): _*),
      tasks.map(_._1).zip(byTask.map(_.sum)).toMap,
      stored)
  }

  /** Seeded shuffle: sort options by per-position md5 keys
    * (qa_base.py:111-137). Adds `_shuffled` (permuted options) and
    * `_letter` — the *first* position holding the correct value, as in the
    * reference's `list.index`.
    */
  def shuffleToLetter(df: DataFrame, optsCol: Column, correctCol: Column, seedKey: Column): DataFrame =
    df.withColumn(
        "_shuffled",
        transform(
          array_sort(
            zip_with(
              optsCol,
              sequence(lit(0), size(optsCol) - 1),
              (o, i) => struct(md5(concat(seedKey, lit(":s"), i.cast("string"))).as("k"), o.as("v"))
            )
          ),
          x => x.getField("v")
        )
      )
      .withColumn("_letter", element_at(letters, array_position(col("_shuffled"), correctCol).cast("int")))
}
