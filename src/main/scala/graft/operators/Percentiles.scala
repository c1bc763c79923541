package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Barrier

/** Exact continuous percentiles by distributed rank selection.
  *
  * Spark's `percentile` aggregate buffers every value of a group in
  * one aggregation buffer — exact, but the buffer is O(group size),
  * so a group with 10¹² rows OOMs a single task. `percentile_approx`
  * (q66) fixes memory with a sketch but gives estimates. This
  * operator is the third regime: EXACT values with bounded memory —
  * a range-partitioned sort by (group, value), contiguous global
  * ranks from per-partition counts + prefix offsets (the classic
  * distributed zip-with-index), then only the two rows flanking each
  * target rank are extracted and linearly interpolated
  * (`quantile_cont` semantics, matching Spark's own `percentile`).
  *
  * Regime guidance: use this for FEW groups with HUGE populations
  * (global/per-status distributions over a 100 TB fact) — driver
  * state is O(partitions × groups). For millions of small groups use
  * `percentile` (per-group buffers are small there); for estimates at
  * any scale use `percentile_approx`.
  *
  * `mapPartitions` is justified here (SURVEY §7.2 ladder, option d):
  * contiguous distributed rank assignment has no Catalyst expression
  * form — a `Window.partitionBy(group)` row_number funnels each whole
  * group through ONE task, which is exactly the bottleneck this
  * operator removes. Ties are safe: rows with equal (group, value)
  * may rank in any order, but every target rank still reads the same
  * value.
  */
object Percentiles {

  /** Above this many distinct groups the per-partition-offset path —
    * whose driver state is O(partitions × groups) — is refused and
    * [[rankSelect]] falls back to a fully distributed windowed-rank
    * plan (each group funnels through one task, which is exactly the
    * right trade for MANY SMALL groups). Same pattern as
    * `Graph.localSolveMaxEdges`.
    */
  val localSolveMaxGroups: Long = 65536L

  /** @param ps percentiles in [0,1], e.g. Seq(0.5, 0.9)
    * @return one row per (group, p): groupCol, `p`, `value` (exact
    *         interpolated percentile), `n_rows` (group population)
    */
  def exactCont(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double], maxGroups: Long = localSolveMaxGroups)
      : DataFrame =
    rankSelect(df, groupCol, valueCol, ps, maxGroups) { (n, p) =>
      // 0-BASED continuous position (n−1)p, exactly as Spark's
      // Percentile and DuckDB's quantile_cont compute it; the +1 to
      // the 1-based ranks happens on the INTEGER side only. Computing
      // a 1-based position 1+(n−1)p first would absorb the low bits
      // of (n−1)p at ulp(1) before the frac is extracted — measured
      // ~3e-11 relative error against both engines on small p.
      val pos = (n - 1) * p
      (math.floor(pos).toLong + 1, math.ceil(pos).toLong + 1,
        pos - math.floor(pos))
    } { (n, p) =>
      val pos = (n - lit(1L)).cast("double") * lit(p)
      (floor(pos).cast("long") + 1, ceil(pos).cast("long") + 1,
        pos - floor(pos))
    }

  /** PERCENTILE_DISC by the same distributed rank selection: the
    * answer is the ACTUAL element at rank ⌈p·n⌉ (smallest value whose
    * cume_dist ≥ p) — no interpolation, so `frac` is 0 and both
    * flanking ranks collapse to one. Same regime guidance as
    * [[exactCont]]; Spark's builtin `percentile_disc` buffers every
    * group value in one aggregation buffer (q137 measured it ~5×
    * slower than this at sf0.1, and it OOMs on a 10¹²-row group).
    */
  def exactDisc(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double], maxGroups: Long = localSolveMaxGroups)
      : DataFrame =
    rankSelect(df, groupCol, valueCol, ps, maxGroups) { (n, p) =>
      // ⌈p·n⌉ computed in DECIMAL, not IEEE: double products round UP
      // past integers (0.07 × 100 = 7.000000000000001, whose ceil is
      // 8 — but cume_dist 7/100 ≥ 0.07 demands rank 7).
      // BigDecimal.valueOf goes through Double.toString, recovering
      // the decimal the caller wrote.
      val r = math.max(
        java.math.BigDecimal.valueOf(p)
          .multiply(java.math.BigDecimal.valueOf(n))
          .setScale(0, java.math.RoundingMode.CEILING).longValueExact(),
        1L)
      (r, r, 0.0)
    } { (n, p) =>
      // same DECIMAL ceiling, expression-side: double→decimal cast in
      // Spark goes through BigDecimal.valueOf, so the two paths agree.
      // p MUST be decimal(17,16): the product with decimal(20,0) is then
      // decimal(38,16) — exactly at Spark's precision cap, so NO
      // allowPrecisionLoss adjustment fires. A wider cast like (30,15)
      // overflows the cap and Spark silently rescales the product to
      // decimal(38,6), rounding p·n HALF_UP at 6 fractional digits
      // BEFORE the ceil — for p=0.30000001, n=10 that picks rank 3
      // where the driver-side exact BigDecimal ceiling picks 4.
      val r = greatest(
        ceil(lit(p).cast(DecimalType(17, 16)) * n.cast(DecimalType(20, 0)))
          .cast("long"),
        lit(1L))
      (r, r, lit(0.0))
    }

  private def rankSelect(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[Double], maxGroups: Long)(
      posOf: (Long, Double) => (Long, Long, Double))(
      posExprOf: (Column, Double) => (Column, Column, Column))
      : DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must lie in [0,1], got $ps")
    val data = df
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull)
    // Driver-state guard: the offsets path collects O(partitions ×
    // groups) counts, which is the right trade only for FEW groups
    // with huge populations. The guard is folded into the sorted
    // layout the offsets plan needs anyway: a per-partition distinct
    // count (executor memory capped at maxGroups+1 by early exit,
    // driver receives one long per partition). Above the cap the
    // windowed-rank plan keeps all state distributed; the only cost of
    // a wrong initial guess is the abandoned sort.
    val spark = data.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    // one materialized sorted layout feeds all passes (guard + count +
    // pick); sorted within partitions by (g, v), so per-partition
    // distinct counting needs only a previous-key register
    val sorted = data
      .repartitionByRange(nPart, col("g"), col("v"))
      .sortWithinPartitions(col("g"), col("v"))
      .transform(Barrier(_))
    val rdd = sorted.rdd.map(r => (r.getString(0), r.getDouble(1)))
    // range partitioning splits a group across at most adjacent
    // partitions, so the sum of per-partition distincts over-counts
    // the true total by < nPart — over-counting errs toward the safe
    // (distributed) plan
    val guardCap = maxGroups + nPart + 1
    val nGroupsBound = rdd.mapPartitions { it =>
      var n = 0L
      var prev: String = null
      var first = true
      while (it.hasNext && n <= guardCap) {
        val g = it.next()._1
        if (first || g != prev) { n += 1; prev = g; first = false }
      }
      Iterator.single(n)
    }.collect().sum
    if (nGroupsBound - nPart <= maxGroups)
      offsetsPlan(spark, rdd, groupCol, ps, posOf)
    else
      windowedPlan(data, groupCol, ps, posExprOf)
  }

  /** Few-groups regime: per-partition counts → driver prefix offsets,
    * then one streaming pass keeps only the flanking rows. Never
    * funnels a group through a single task. Takes the already-sorted
    * (group, value) RDD whose group count [[rankSelect]] has bounded.
    */
  private def offsetsPlan(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[(String, Double)], groupCol: String,
      ps: Seq[Double],
      posOf: (Long, Double) => (Long, Long, Double)): DataFrame = {
    // pass 1: per-partition group counts → driver-side prefix offsets
    val partCounts: Array[(Int, Seq[(String, Long)])] =
      rdd.mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach { case (g, _) => m.update(g, m.getOrElse(g, 0L) + 1L) }
        Iterator((pid, m.toSeq))
      }.collect()
    val offsets = scala.collection.mutable.Map.empty[(Int, String), Long]
    val totals = scala.collection.mutable.Map.empty[String, Long]
    partCounts.sortBy(_._1).foreach { case (pid, gs) =>
      gs.foreach { case (g, c) =>
        offsets((pid, g)) = totals.getOrElse(g, 0L)
        totals(g) = totals.getOrElse(g, 0L) + c
      }
    }

    // target ranks per group, from the caller's position rule
    val targets: Seq[(String, Double, Long, Long, Double, Long)] =
      totals.toSeq.flatMap { case (g, n) =>
        ps.map { p =>
          val (lo, hi, frac) = posOf(n, p)
          (g, p, lo, hi, frac, n)
        }
      }
    val needed: Map[String, Set[Long]] = targets
      .groupBy(_._1)
      .map { case (g, ts) => g -> ts.flatMap(t => Seq(t._3, t._4)).toSet }

    // pass 2: stream each partition once, keep ONLY the flanking rows
    val sc = spark.sparkContext
    val bcOff = sc.broadcast(offsets.toMap)
    val bcNeed = sc.broadcast(needed)
    val pickedRdd = rdd.mapPartitionsWithIndex { (pid, it) =>
      val off = bcOff.value
      val need = bcNeed.value
      val local = scala.collection.mutable.Map.empty[String, Long]
      it.flatMap { case (g, v) =>
        val seen = local.getOrElse(g, 0L) + 1L
        local(g) = seen
        val rank = off.getOrElse((pid, g), 0L) + seen
        if (need.getOrElse(g, Set.empty).contains(rank))
          Iterator(Row(g, rank, v))
        else Iterator.empty
      }
    }
    val pickedSchema = StructType(Seq(
      StructField("g", StringType), StructField("r", LongType),
      StructField("v", DoubleType)))
    // materialize the (tiny) flanking-row set once — it is consumed by
    // two join sides, and each consumption would otherwise re-stream
    // the full sorted data
    val picked = spark.createDataFrame(pickedRdd, pickedSchema)
      .transform(Barrier(_))

    // tiny: |groups|·|ps| rows joined against the flanking values
    import spark.implicits._
    val tdf = targets.toDF("g", "p", "lo", "hi", "frac", "n_rows")
    val loSide = picked.select(col("g").as("_gl"), col("r").as("_rl"),
      col("v").as("vlo"))
    val hiSide = picked.select(col("g").as("_gh"), col("r").as("_rh"),
      col("v").as("vhi"))
    // <=> not ===: a NULL group key is a legitimate GROUP BY group
    // (Spark's percentile and DuckDB both emit it) and null-rejecting
    // equality would silently drop it here
    tdf
      .join(broadcast(loSide),
        col("g") <=> col("_gl") && col("lo") === col("_rl"))
      .join(broadcast(hiSide),
        col("g") <=> col("_gh") && col("hi") === col("_rh"))
      // (1−g)·lo + g·hi, NOT lo + (hi−lo)·g: algebraically equal but a
      // different rounding path — Spark's Percentile (and DuckDB's
      // quantile_cont) use the two-product form, and the single-ulp
      // divergence of the other form fails the cross-engine hash
      .select(col("g").as(groupCol), col("p"),
        ((lit(1.0) - col("frac")) * col("vlo") +
          col("frac") * col("vhi")).as("value"),
        col("n_rows"))
  }

  /** Many-groups regime: fully distributed fallback — per-group
    * `row_number` window (each group rides one task; groups are small
    * in this regime by definition), target ranks computed as
    * expressions over a per-group count frame, flanking rows picked by
    * equi-join on (group, rank). Zero driver state.
    */
  private def windowedPlan(data: DataFrame, groupCol: String,
      ps: Seq[Double],
      posExprOf: (Column, Double) => (Column, Column, Column))
      : DataFrame = {
    val ranked = data
      .withColumn("r",
        row_number().over(
          Window.partitionBy(col("g")).orderBy(col("v"))).cast("long"))
    val gn = data.groupBy(col("g")).agg(count(lit(1)).as("n_rows"))
    val targets = ps.map { p =>
      val (lo, hi, frac) = posExprOf(col("n_rows"), p)
      gn.select(col("g"), lit(p).as("p"), lo.as("lo"), hi.as("hi"),
        frac.as("frac"), col("n_rows"))
    }.reduce(_.union(_))
    val loSide = ranked.select(col("g").as("_gl"), col("r").as("_rl"),
      col("v").as("vlo"))
    val hiSide = ranked.select(col("g").as("_gh"), col("r").as("_rh"),
      col("v").as("vhi"))
    // equi-joins on (group, rank): both ranks come from the same
    // shuffle-by-g layout, so AQE plans plain hash joins; <=> keeps the
    // legitimate NULL group (same reasoning as the offsets plan)
    targets
      .join(loSide, col("g") <=> col("_gl") && col("lo") === col("_rl"))
      .join(hiSide, col("g") <=> col("_gh") && col("hi") === col("_rh"))
      .select(col("g").as(groupCol), col("p"),
        ((lit(1.0) - col("frac")) * col("vlo") +
          col("frac") * col("vhi")).as("value"),
        col("n_rows"))
  }
}
