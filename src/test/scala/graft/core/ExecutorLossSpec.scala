package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.launcher.JavaModuleOptions
import graft.{SparkEntry, SparkSpec}

/** A barrier under a cluster master survives losing an executor.
  * A child JVM runs a barrier-heavy query on
  * [[SparkSpec.cluster]]: it builds the query (every barrier runs
  * then), kills one of the two executors, and only then writes the
  * result. Under a local-only barrier the blocks the killed executor
  * computed are gone, and the write fails with
  * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`; with [[Barrier]]'s reliable
  * checkpoint the result equals the same query on [[SparkSpec.session]].
  */
class ExecutorLossSpec extends SparkSpec {

  test("a barrier-heavy query built on two executors returns the same " +
    "result after one of them is killed") {
    val base = Files.createTempDirectory(SparkSpec.target, "executor_loss")
    val out = base.resolve("out").toString
    val log = base.resolve("child.log").toFile
    // the directory Spark's own jars came from; its parent is SPARK_HOME
    val jars = Paths.get(classOf[SparkContext].getProtectionDomain
      .getCodeSource.getLocation.toURI).getParent
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(java) ++ JavaModuleOptions.defaultModuleOptionArray() ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        ExecutorLossChild.getClass.getName.stripSuffix("$"),
        sfDir, base.resolve("checkpoint").toString, out)
    val pb = new ProcessBuilder(cmd.asJava)
      .directory(SparkSpec.root.toFile)
      .redirectErrorStream(true)
      .redirectOutput(log)
    pb.environment().put("SPARK_HOME", jars.getParent.toString)
    // the executor launcher's classpath builder asks for it outright
    pb.environment().put("SPARK_SCALA_VERSION",
      scala.util.Properties.versionNumberString.split('.').take(2)
        .mkString("."))
    val child = pb.start()
    val finished = child.waitFor(240, TimeUnit.SECONDS)
    if (!finished) child.destroyForcibly().waitFor()
    // the child's last log lines and messages, stack frames left out
    def tail = Files.readAllLines(log.toPath).asScala
      .filterNot(_.startsWith("\t")).takeRight(20).mkString("\n")
    assert(finished && child.exitValue == 0,
      s"child run failed (${if (finished) s"exit ${child.exitValue}"
        else "timed out"}):\n$tail")
    assertDfEquality(spark.read.parquet(out),
      SparkEntry.queries(ExecutorLossChild.query)(spark, sfDir))
  }
}

/** The child JVM's main: `<sfDir> <checkpointDir> <outDir>`. */
object ExecutorLossChild {
  val query = "q284_bipartite_dedup"

  def main(args: Array[String]): Unit = {
    val Array(sfDir, checkpointDir, out) = args
    val spark = SparkSpec.cluster(checkpointDir)
    val sc = spark.sparkContext
    // the status tracker lists the driver too
    def awaitExecutors(n: Int): Unit = {
      val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(90)
      while (sc.statusTracker.getExecutorInfos.length != n + 1) {
        require(System.nanoTime < deadline, s"never saw $n executors")
        Thread.sleep(100)
      }
    }
    try {
      awaitExecutors(2)
      val df = SparkEntry.queries(query)(spark, sfDir)
      require(sc.killExecutor("0"), "executor 0 was not killed")
      awaitExecutors(1)
      df.write.parquet(out)
    } finally spark.stop()
  }
}
