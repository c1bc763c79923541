package perfbench

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import graft.queries.Q

/** A query workload (`bootcamp`). An operation is one
  * query: build (`Q.run`), then the noop-sink action. The traced run
  * also forces the physical plan between the two so planning is timed
  * on its own.
  */
final class QueryWorkload(ctx: Main.Ctx, queries: Seq[Q]) extends Main.Workload {

  def nominalPassSeconds: Double = 6.5

  /** Every result written once, as graft.Verify does, for the oracle
    * compare; this also compiles and JIT-warms each query. Untimed, so
    * queries run four at a time.
    */
  def warmUp(out: J.Obj): Unit = {
    val results = s"${ctx.work}/results"
    val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try queries.map { q =>
      pool.submit(new Runnable {
        def run(): Unit =
          try q.run(ctx.spark, ctx.data).coalesce(1).write.mode("overwrite")
            .parquet(s"$results/${q.name}")
          catch { case NonFatal(e) =>
            failed.add(q.name)
            System.err.println(s"[perfbench] ${q.name} failed: ${e.getMessage}")
          }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    Files.writeString(Paths.get(s"$results/oracle_sql.json"), J.render(
      queries.flatMap(q => q.oracle.map(q.name -> _)).toMap))
    out("check") = J.obj("failed" -> failed.toArray.toList.map(_.toString),
      "results" -> results, "queries" -> queries.map(_.name))
  }

  /** One measured pass, in an order drawn from the seed. */
  def pass(p: Int): J.Obj = {
    val tracer = ctx.tracer
    val order = new scala.util.Random(ctx.seed * 7919 + p).shuffle(queries)
    val since = System.nanoTime()
    val cpu0 = Main.cpuSeconds()
    val ops = order.map { q =>
      val op = tracer.newOp()
      val s0 = System.nanoTime()
      val ok = try {
        val df = tracer.span("queries.build", op)(q.run(ctx.spark, ctx.data))
        if (tracer.on) tracer.span("plan", op)(df.queryExecution.executedPlan)
        tracer.span("execute", op)(
          df.write.format("noop").mode("overwrite").save())
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] ${q.name} failed: ${e.getMessage}")
        false
      }
      J.obj("name" -> q.name, "s" -> (System.nanoTime() - s0) / 1e9,
        "ok" -> ok)
    }
    J.obj("wall_s" -> (System.nanoTime() - since) / 1e9,
      "cpu_s" -> (Main.cpuSeconds() - cpu0), "ops" -> ops)
  }
}
