package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.Barrier

/** Distributed exclusive prefix sum (scan) — the primitive Spark's
  * window API cannot express at scale: `Window.orderBy(...)` with no
  * partition key moves EVERY row into one partition (WindowExec's
  * "No Partition Defined" path), so a corpus-wide running total is a
  * single-threaded sort in disguise. This operator is the classic
  * two-phase parallel scan instead, the same sorted-layout +
  * driver-offsets discipline as [[Percentiles]]' offsets regime:
  *
  *  1. range-repartition on the order key and sort within partitions
  *     (one exchange — the sort Spark would do anyway), materialized
  *     once behind a [[Barrier]] so both passes see the identical
  *     layout;
  *  2. per-partition totals → driver (ONE long per partition — the
  *     bounded-collect pattern), exclusive-scanned into partition
  *     offsets;
  *  3. one partition-local streaming pass adds `offset + local
  *     running sum` to each row — no second corpus shuffle (a
  *     `Window.partitionBy(partition_id)` formulation would re-shuffle
  *     the full corpus by partition id just to satisfy the window's
  *     clustering requirement).
  *
  * The per-row result depends only on the data and the order — the
  * partitioning is free to differ between runs; offsets absorb it.
  * `orderCols` must therefore be a TOTAL order (ties could land on
  * either side of a partition boundary and reorder silently); callers
  * use a frozen-hash + id pair (see [[Sampling.systematicPps]]).
  *
  * The scan pass is `mapPartitions` — the documented last resort,
  * taken deliberately: the loop is one long addition per row, there
  * is no expressible DataFrame plan with the same exchange count, and
  * [[PrefixSumProps]] pins it ≡ a sequential `scanLeft` under random
  * input partitioning.
  */
object PrefixSum {

  /** Adds `outCol` = sum of `valueCol` over all STRICTLY PRECEDING
    * rows in the `orderCols` total order (first row gets 0). The
    * output is sorted by `orderCols` within range partitions.
    *
    * @param valueCol non-null LongType column (cast upstream —
    *                 silently widening here would change the caller's
    *                 schema)
    */
  def exclusive(df: DataFrame, orderCols: Seq[String], valueCol: String,
      outCol: String = "cum"): DataFrame = {
    require(df.schema(valueCol).dataType == LongType,
      s"$valueCol must be LongType, got " +
        df.schema(valueCol).dataType.simpleString)
    val spark = df.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val sorted = df
      .repartitionByRange(nPart, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .transform(Barrier(_))
    val vIdx = sorted.schema.fieldIndex(valueCol)
    val partTotals = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L
      it.foreach(r => s += r.getLong(vIdx))
      Iterator.single(i -> s)
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val outSchema = sorted.schema.add(outCol, LongType, nullable = false)
    val rows = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      var c = bc.value(i)
      it.map { r =>
        val out = Row.fromSeq(r.toSeq :+ c)
        c += r.getLong(vIdx)
        out
      }
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** 1-based contiguous global ordinals over a TOTAL `orderCols`
    * order — the distributed replacement for
    * `row_number() OVER (ORDER BY …)` with no PARTITION BY, whose
    * WindowExec funnels EVERY row through one task (the q125/q126/
    * q212 scale-killer this operator retires): range-repartition +
    * sort (the sort any global rank pays anyway), ONE count per
    * partition to the driver, exclusive-scanned offsets broadcast
    * back, ordinals assigned in a partition-local streaming pass.
    * Same total-order contract as [[exclusive]] (ties could land on
    * either side of a partition boundary and renumber silently).
    *
    * Also returns the total row count — it is the scan's last offset,
    * so callers computing NTILE/percent_rank/cume_dist denominators
    * don't pay a second pass.
    */
  def withOrdinals(df: DataFrame, orderCols: Seq[String],
      outCol: String = "rn"): (DataFrame, Long) = {
    val spark = df.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val sorted = df
      .repartitionByRange(nPart, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .transform(Barrier(_))
    val partCounts = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      var n = 0L
      it.foreach(_ => n += 1L)
      Iterator.single(i -> n)
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partCounts.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val outSchema = sorted.schema.add(outCol, LongType, nullable = false)
    val rows = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      var r = bc.value(i)
      it.map { row =>
        r += 1L
        Row.fromSeq(row.toSeq :+ r)
      }
    }
    (spark.createDataFrame(rows, outSchema),
      if (offsets.isEmpty) 0L else offsets.last)
  }
}
