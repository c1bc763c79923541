package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The bucket-join contract (reference J12,
  * `bucket-joins-in-iceberg.ipynb:80-111`): matching 16-bucket tables
  * join with NO Exchange; partitioned writes prune; sorted writes
  * measurably change layout.
  */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private lazy val orders = {
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
    df.select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")
  }

  test("bucketed join elides all shuffles (no Exchange in plan)") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Sinks.saveBucketed(orders, "b_orders", "o_custkey", 8)
      Sinks.saveBucketed(
        spark.read.parquet(s"$sfDir/customer.parquet"),
        "b_customer", "c_custkey", 8)
      val joined = spark.table("b_orders").join(
        spark.table("b_customer"),
        $"o_custkey" === $"c_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucket join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      assert(joined.count() ==
        orders.join(spark.read.parquet(s"$sfDir/customer.parquet"),
          $"o_custkey" === $"c_custkey").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("3-way bucket join stays shuffle-free (reference homework shape)") {
    // the bucket-join homework joins THREE 16-bucket tables on one key
    // (`homework.md:78`, `assignment_3_spark.py:56-62`) — co-location
    // must hold transitively through both joins
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      Sinks.saveBucketed(
        li.select($"l_orderkey", $"l_quantity"), "b3_qty",
        "l_orderkey", 16)
      Sinks.saveBucketed(
        li.select($"l_orderkey", $"l_extendedprice"), "b3_price",
        "l_orderkey", 16)
      Sinks.saveBucketed(
        spark.read.parquet(s"$sfDir/orders.parquet")
          .select($"o_orderkey", $"o_orderpriority"),
        "b3_orders", "o_orderkey", 16)
      val joined = spark.table("b3_orders")
        .join(spark.table("b3_qty"), $"o_orderkey" === $"l_orderkey")
        .drop("l_orderkey")
        .join(spark.table("b3_price"),
          $"o_orderkey" === $"l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"3-way bucket join must not shuffle:\n$plan")
      assert("SortMergeJoin".r.findAllIn(plan).length == 2, plan)
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      Seq("b3_qty", "b3_price", "b3_orders").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("partitioned write prunes partitions on the filter") {
    try {
      Sinks.savePartitioned(
        orders.withColumn("order_year", year($"o_orderdate")),
        "p_orders", Seq("order_year"))
      val q = spark.table("p_orders").filter($"order_year" === 1996)
      val scan = q.queryExecution.executedPlan.toString
      assert(q.count() ==
        orders.filter(year($"o_orderdate") === 1996).count())
      assert(scan.contains("order_year"), scan)
      // partition pruning: scanned files all come from one partition dir
      val files = q.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.toString.linesIterator.toSeq).mkString
      assert(!files.contains("order_year=1995") ||
        files.contains("PartitionFilters"), files.take(500))
    } finally spark.sql("DROP TABLE IF EXISTS p_orders")
  }

  test("format choice + table stats (sorted vs unsorted layout)") {
    try {
      Sinks.saveTable(orders, "t_parquet", "parquet")
      Sinks.saveTable(orders, "t_orc", "orc")
      val (pBytes, pFiles) = Sinks.tableStats(spark, "t_parquet")
      val (oBytes, oFiles) = Sinks.tableStats(spark, "t_orc")
      assert(pBytes > 0 && oBytes > 0 && pFiles > 0 && oFiles > 0)
      // X6 method: sorted-within-partitions layout writes successfully
      // and its size is measurable
      Sinks.saveTable(
        orders.repartition(2, $"o_custkey")
          .sortWithinPartitions($"o_custkey"), "t_sorted")
      val (sBytes, _) = Sinks.tableStats(spark, "t_sorted")
      assert(sBytes > 0)
    } finally Seq("t_parquet", "t_orc", "t_sorted").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("z-ordered layout: per-file bounding boxes shrink on BOTH dims") {
    // full 64×64 grid: every (x, y); 8 files of 512 rows each. A
    // z-curve segment of 512 consecutive codes covers ~one aligned
    // 512-cell block, so each file's (x-range × y-range) bounding box
    // is a small fraction of the 64×64 domain — which is exactly what
    // lets parquet min/max footers prune a filter on EITHER column.
    // A round-robin layout spreads every file across the full domain.
    val grid = spark.range(64 * 64).select(
      ($"id" % 64).cast("int").as("x"),
      ($"id" / 64).cast("int").as("y"))
    def sumBoxArea(table: String): Long = {
      val loc = Sinks.tableLocation(spark, table)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        loc, spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(loc))
        .map(_.getPath.toString)
        .filter(p => p.endsWith(".parquet") || p.contains("part-"))
        .filterNot(_.contains("_SUCCESS"))
      files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min($"x"), max($"x"), min($"y"), max($"y")).head()
        (r.getInt(1) - r.getInt(0) + 1).toLong *
          (r.getInt(3) - r.getInt(2) + 1)
      }.sum
    }
    try {
      Sinks.saveZOrdered(grid, "t_zorder", "x", "y", nFiles = 8)
      Sinks.saveTable(grid.repartition(8), "t_roundrobin")
      val (zArea, rrArea) = (sumBoxArea("t_zorder"),
        sumBoxArea("t_roundrobin"))
      // round-robin: every file spans ~the whole 4096-cell domain
      // (sum ≈ 8·4096). Z-order: aligned blocks, sum ≈ 4096-ish.
      assert(zArea < rrArea / 3,
        s"z-order must cluster both dims: z=$zArea roundrobin=$rrArea")
      // the layout is purely physical: the rows are unchanged
      assert(spark.table("t_zorder").count() == 4096)
      assert(spark.table("t_zorder").agg(sum($"x") + sum($"y"))
        .head().getLong(0) ==
        grid.agg(sum($"x") + sum($"y")).head().getLong(0))
    } finally Seq("t_zorder", "t_roundrobin").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("compaction rewrites a fragmented table into sized files") {
    try {
      // simulate micro-batch fragmentation: 64 tiny files
      Sinks.saveTable(orders.repartition(64), "t_fragmented", "parquet")
      val before = Sinks.tableStats(spark, "t_fragmented")
      assert(before._2 == 64, s"fixture must fragment: $before")
      val (filesBefore, filesAfter) =
        Sinks.compact(spark, "t_fragmented")
      assert(filesBefore == 64)
      assert(filesAfter <= 2,
        s"tiny table must compact to ~1 file, got $filesAfter")
      // contents unchanged
      assert(spark.table("t_fragmented").count() == orders.count())
    } finally Seq("t_fragmented", "t_fragmented_compacting").foreach(
      t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("mergeSchema read unions evolved parquet schemas") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_evolve").toString
    Seq((1L, "a")).toDF("id", "s")
      .write.mode("append").parquet(dir)
    Seq((2L, 3.5)).toDF("id", "d")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("d", "id", "s"),
      "both generations' columns must appear")
    assert(merged.count() == 2)
    // plain read keeps ONE footer's schema — the documented default
    val plain = spark.read.parquet(dir)
    assert(plain.columns.length < 3,
      "without mergeSchema one generation's schema wins")
  }
}
