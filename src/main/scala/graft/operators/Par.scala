package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed-shape helpers. [[fanOut]]: scale-adaptive parallelism for
  * CPU-heavy narrow scans.
  *
  * A small input — at bench scale, a single-row-group parquet file — plans
  * ONE working scan task, so a per-row-expensive projection (levenshtein,
  * clipped n-gram counting, per-token digests) runs on one core however
  * many the session has. [[fanOut]] redistributes round-robin to the
  * session's default parallelism, but ONLY when the planned scan has fewer
  * partitions than that: at production scale the input carries ≥ cores
  * splits already and the call is a no-op (no Exchange in the plan).
  *
  * This is deliberately NOT a constant repartition(n): the decision is
  * derived per-input from the planned partition count vs the session's
  * core count, so the same code is an Exchange-free pass-through on a
  * 100 TB input and a 1-shuffle fan-out on a one-row-group one. The
  * round-robin exchange moves each row once; every call site guards a
  * projection whose per-row CPU dwarfs one row move (guide §1.2: fix the
  * distributed shape first — a single-task stage IS the wrong shape).
  */
object Par {
  def fanOut(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** Appends `as`, the 1-based rank of each row within its `parts` group
    * in (`bucket`, `within`…) order — `bucket` descending when `desc`.
    *
    * Two-pass distributed rank, never a single-partition window: count
    * the rows per (parts, bucket), prefix-sum that count frame into
    * per-bucket offsets (a window over |parts|·|buckets| COUNT rows, not
    * over the data), broadcast the offsets back, and take row_number
    * only within each (parts, bucket). The data shuffles once, by
    * (parts, bucket), so parallelism grows with the bucket count; choose
    * `bucket` as a range prefix of the order (a key prefix, a value
    * band, or the exact key when ties form the groups) so that the
    * within-bucket order completes the total order. A single-key window
    * would instead funnel every row of a group through one sort task. */
  def globalRank(df: DataFrame, bucket: String, within: Seq[Column], as: String,
      parts: Seq[String] = Nil, desc: Boolean = false): DataFrame = {
    val keys = parts :+ bucket
    val offs = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(sum(col("n")).over(
        Window.partitionBy(parts.map(col): _*)
          .orderBy(if (desc) col(bucket).desc else col(bucket))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((keys :+ "offset").map(col): _*)
    df.join(broadcast(offs), keys)
      .withColumn(as, col("offset") + row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(within: _*)).cast("long"))
      .drop("offset")
  }
}
