package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.SQLConf

/** The one local-session recipe every main (Bench, Verify, Probe)
  * shares: `local[cpus]` with the shuffle
  * width matched to the core count (not the 200 default — a local run
  * has no 200-slot cluster to fill) plus [[common]],
  * [[trimHadoopConf]] and [[sizeCodegenCache]], which the test harness
  * applies too. Keeping it
  * in one place stops the config block from drifting across mains —
  * exactly how round 4's dead legacy-conf pins multiplied.
  */
object Sessions {

  /** `file:` served by [[LocalFs]]. Without `libhadoop`, Hadoop's
    * `RawLocalFileSystem` falls back to the shell: `readlink` on every
    * FileContext rename (each streaming offsets, commits, state-delta,
    * sink-log and checksum commit) and `chmod` on every create and
    * `mkdirs`. A 20-second `perfbench` `ingest_stream` run (4 vCPU,
    * JFR `jdk.ProcessStart`) started 3,521 child processes, 3,492 of
    * them from Hadoop, about 1,300 per 2-arrival pass; with this map it
    * starts 27, and none from a Hadoop filesystem call.
    */
  val localFs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs.Checked].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[LocalFs.Context].getName)

  /** What every session of the engine carries, in the mains and in the
    * test harness alike, so tier-1 runs on what the mains run: UTC
    * pinned (the cross-engine oracle compares wall-clock values), no
    * UI, [[localFs]] for `file:` paths, session artifact isolation
    * off, and a codegen cache sized to the query surface.
    *
    * Isolation off makes every session's tasks share the executor's
    * default class loader. With it on (Spark 4's default), each job
    * carries its session's `JobArtifactState`, and the executor gives
    * every session UUID its own `ExecutorClassLoader`. The codegen
    * cache is keyed by (context class loader, code), and every
    * `Trigger.AvailableNow` drain runs in a fresh cloned session, so
    * every drain recompiled all of its executor-side classes, each
    * compile fetching over RPC every class name Janino could not
    * resolve. On a 4-vCPU host, a probe repeating `perfbench`'s
    * `ingest_stream` pass counted 101–102 compilations
    * (`CodegenMetrics.METRIC_COMPILATION_TIME`) on every pass; with
    * isolation off it counts 0 after the first. Executor threads
    * blocked on another task's compile (`KeyLock`, JFR, 5 passes) fell
    * from 20.4 to 0.95 s, and Janino's executor CPU samples from 192 to
    * 18. Isolation only separates jars and classes added per session
    * through `addArtifact` or Spark Connect, which the engine never
    * uses. `SessionsSpec` fails if a drain or a new session compiles
    * again.
    *
    * The codegen cache holds 8,192 generated classes, not Spark's 100.
    * The cache is least-recently-used, so a pass over more distinct
    * classes than it holds finds none of them still cached and
    * compiles every one again. Counted with an unbounded cache (4
    * vCPU, `Bench.measure`: the sf0.001 warm-up plus the timed
    * passes), `perfbench`'s `bootcamp` queries compile 131 distinct
    * classes and all 311 labels at sf0.001 4,379; at 100 entries each
    * timed `bootcamp` pass at sf0.01 recompiled 98 classes. 8,192 is
    * the next power of two above the whole surface. The cache keeps
    * only what was compiled, so a run that compiles fewer classes
    * holds no more. `SessionsSpec` fails if a second pass over
    * `bootcamp`'s queries compiles more than an occasional 4 classes.
    * Spark reads the size only once; [[sizeCodegenCache]] makes it
    * read this one.
    */
  val common: Map[String, String] = localFs ++ Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "8192")

  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(common)
      .getOrCreate()
    trimHadoopConf(spark)
    sizeCodegenCache(spark)
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Drop Hadoop's XML defaults from the session's Hadoop
    * configuration: `sparkContext.hadoopConfiguration` stops loading
    * its default resources (`core-default.xml`, `core-site.xml`, and
    * the `yarn-default.xml` and `mapred-default.xml` that YARN and
    * MapReduce classes register once loaded) and keeps only the keys
    * set in code: Spark's own (`spark.hadoop.*`, [[localFs]], the
    * pinned `mapreduce.fileoutputcommitter.algorithm.version`, the
    * warehouse dir, the S3A and buffer settings) and the SQL settings
    * every `newHadoopConf()` adds.
    *
    * Why: every task that reads or writes files deserializes a copy of
    * this configuration (the write description `FileFormatWriter`
    * ships, the `SerializableConfiguration` of every file scan), and
    * `Configuration.readFields` costs per property. On Spark 4.1.2 with
    * Hadoop 3.4.2 a session's `newHadoopConf()` held 1,096 keys (112,901
    * serialized bytes), 1,070 of them XML defaults: 520 from YARN, 356
    * from core and 194 from MapReduce. Trimmed it holds 27 keys (4,693
    * bytes). Over the four `ingest_stream` drains of two arrivals (40
    * tasks, 4 vCPU, C1), a warm pass's summed executor deserialize time
    * fell from 1.8–2.2 s to 0.36 s.
    *
    * Why it is safe: the engine runs neither YARN nor MapReduce, and
    * the Hadoop code it does run (the local filesystem, the file
    * output committer, the parquet and ORC readers and writers) falls
    * back to a default in code for a key that is not set; a key the
    * engine needs set belongs in [[common]] as `spark.hadoop.*`, never
    * in an XML default. Keys set in code live in the configuration's
    * overlay, which a reload keeps. Hadoop's copy constructor carries
    * the flag, so every `newHadoopConf()`, every per-task `JobConf` and
    * every shipped copy holds the trimmed set, and a default resource
    * that a class registers later (`JobConf`'s static block) no longer
    * reloads it. `SessionsSpec` checks the key count, the size, the
    * `file:` filesystem and a write-read-drain round trip.
    *
    * `loadDefaults` is private and has no setter after construction;
    * if a Hadoop upgrade renames it, the session fails here rather
    * than silently shipping the full configuration again.
    */
  def trimHadoopConf(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val loadDefaults = classOf[Configuration].getDeclaredField("loadDefaults")
    loadDefaults.setAccessible(true)
    loadDefaults.setBoolean(conf, false)
    conf.reloadConfiguration()
  }

  /** Size Spark's codegen cache from this session's conf. Spark reads
    * `spark.sql.codegen.cache.maxEntries` once per JVM, through
    * `SQLConf.get`, when `CodeGenerator` first loads. On a thread with
    * no active session that is Spark's default conf, so the first
    * compile there fixes the cache at 100 entries whatever [[common]]
    * says. The test harness meets this: its session is built on one
    * suite's thread and used from others, and in a full tier-1 run a
    * second pass over `bootcamp`'s queries compiled 94 classes. Loading
    * `CodeGenerator` here, under the session's conf, fixes the size at
    * session start; a JVM that compiled before its first session keeps
    * the size it had.
    */
  def sizeCodegenCache(spark: SparkSession): Unit =
    SQLConf.withExistingConf(spark.sessionState.conf)(CodeGenerator)
}
