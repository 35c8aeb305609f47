package graftbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.EngineConf

/** Entry point of one benchmark run: builds the session, runs one
  * workload, checks its outputs and writes the result line (end-to-end
  * metrics untraced, per-layer metrics traced). */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime / 1e3
    val cpus = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val spark = EngineConf.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", args.runDir.resolve("warehouse").toString)
      .config("spark.local.dir", args.runDir.resolve("local").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.register(spark)
    // one tiny job, so the first timed operation does not absorb the
    // scheduler's and code generator's first-use costs
    spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
    val sessionS = System.currentTimeMillis() / 1e3 - jvmStart

    val tracer = new Tracer(spark.sparkContext, args.trace,
      s"${args.workload}-${args.seed}")
    val run = new Run(args, spark, tracer)
    try args.workload match {
      case "registry_sync" => RegistryWorkloads.sync(run)
      case "registry_resync" => RegistryWorkloads.resync(run)
      case "query_suite" => QuerySuite.run(run)
    } catch { case e: Exception =>
      e.printStackTrace()
      run.fail("run", s"${args.workload} aborted: $e")
    }
    tracer.settle()
    val metrics =
      if (args.trace) Metrics.perLayer(run, sessionS)
      else Metrics.endToEnd(run, sessionS)
    tracer.write(args.traceOut)
    Files.writeString(java.nio.file.Paths.get(args.traceOut + ".ops.tsv"),
      run.ops.map(o => s"${o.kind}\t${o.name}\t${o.wall}").mkString("", "\n", "\n"))
    spark.stop()
    val attempted = math.max(1, run.attempted)
    Files.writeString(args.out, Json.result(run.failedKeys.isEmpty, attempted,
      math.min(attempted, run.failedKeys.size), metrics))
  }
}
