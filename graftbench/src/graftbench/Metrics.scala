package graftbench

/** The metrics a run reports: end-to-end ones from an untraced run,
  * per-layer ones from the spans of a traced run. */
object Metrics {
  type M = (String, Double, String)

  /** The op kind whose walls make up `op_p90_s`: each workload's main
    * operation (read-backs and the status call are a cheaper population
    * of their own). */
  private val opKinds = Set("commit", "upsert", "cold")

  /** Heap still in use after a full collection at the end of the run:
    * what the workload left resident (caches, broadcast and plan state),
    * measured the same way on every run. A high-water mark of the heap or
    * of the process's RSS mostly measures how far the collector let the
    * heap grow between collections, which varies run to run. */
  def retainedHeapMb(): Double = {
    // Spark frees some state (unpersisted blocks, cleaned broadcasts)
    // asynchronously once a collection has found it unreachable, so
    // collect until the figure settles
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1024.0 / 1024.0
    }.last
  }

  private def setupS(run: Run, sessionS: Double): Double =
    sessionS + run.setupSteps.values.map(v => Stats.median(v.toSeq)).sum

  def endToEnd(run: Run, sessionS: Double): Seq[M] = {
    val opWalls = run.ops.filter(o => opKinds(o.kind)).map(_.wall).toSeq
    Seq(
      ("setup_s", setupS(run, sessionS), "s"),
      ("wall_s", run.wall, "s"),
      ("op_p90_s", Stats.quantile(opWalls, 0.9), "s"),
      ("retained_heap_mb", retainedHeapMb(), "MB"))
  }

  def perLayer(run: Run, sessionS: Double): Seq[M] = {
    val t = run.tracer
    val mb = 1024.0 * 1024.0
    def named(n: String) = t.spans.filter(_.name == n).toSeq
    def selfSum(n: String) = named(n).map(t.selfWall).sum
    def count(n: String, k: String) = named(n).map(_.counts.getOrElse(k, 0.0)).sum
    def work(ss: Seq[Span]): Work = {
      val w = new Work
      ss.foreach(s => w.add(t.totalWork(s)))
      w
    }
    def setupMedian(n: String) =
      run.setupSteps.get(n).map(v => Stats.median(v.toSeq)).getOrElse(0.0)
    // the timed part of the workload: its top-level, non-set-up spans
    val roots = t.spans.filter(s => s.parent == -1 && !s.name.startsWith("setup."))
      .toSeq
    val engine = work(roots)
    val layerNames = Set("providers", "sinks.gate", "sinks.commit", "sinks.read",
      "sinks.catalog") ++ roots.map(_.name).filter(_.startsWith("query."))
    def subtree(s: Span): Seq[Span] = s +: t.children(s.id).flatMap(subtree)
    val all = roots.flatMap(subtree)

    val parse = selfSum("providers")
    val rowsOut = count("providers", "rows")
    val commits = named("sinks.commit")
    val written = work(commits).outputB.toDouble
    val changedJson = roots.map(_.counts.getOrElse("changed_json_bytes", 0.0)).sum
    val checked = count("sinks.gate", "checked")

    val setup = Seq(
      ("setup.session_s", sessionS, "s"),
      ("setup.prestage_s", setupMedian("setup.prestage"), "s"),
      ("setup.inputgen_s", setupMedian("setup.inputgen"), "s"),
      ("setup.basestore_s", setupMedian("setup.basestore"), "s"))
    val providers = Seq(
      ("providers.parse_s", parse, "s"),
      ("providers.rows_out", rowsOut, "count"),
      ("providers.rows_per_s", if (parse > 0) rowsOut / parse else 0.0, "1/s"),
      ("providers.jobs", work(named("providers")).jobs.toDouble, "count"))
    val sinks = Seq(
      ("sinks.gate_s", selfSum("sinks.gate"), "s"),
      ("sinks.gate_pass_ratio",
        if (checked > 0) 1.0 - count("sinks.gate", "rejected") / checked else 0.0,
        "ratio"),
      ("sinks.commit_s", selfSum("sinks.commit"), "s"),
      ("sinks.commit_jobs", work(commits).jobs.toDouble, "count"),
      ("sinks.bytes_written_mb", written / mb, "MB"),
      ("sinks.write_amp", if (changedJson > 0) written / changedJson else 0.0,
        "ratio"),
      ("sinks.read_s", selfSum("sinks.read"), "s"),
      ("sinks.catalog_s", selfSum("sinks.catalog"), "s"),
      ("sinks.store_bytes_ratio",
        Stats.median(roots.flatMap(_.counts.get("store_bytes_ratio"))), "ratio"))
    val engineM = Seq(
      ("engine.jobs", engine.jobs.toDouble, "count"),
      ("engine.stages", engine.stages.toDouble, "count"),
      ("engine.tasks", engine.tasks.toDouble, "count"),
      ("engine.task_s", engine.taskMs / 1e3, "s"),
      ("engine.gc_s", engine.gcMs / 1e3, "s"),
      ("engine.max_task_s", engine.maxTaskMs / 1e3, "s"),
      ("engine.input_mb", engine.inputB / mb, "MB"),
      ("engine.shuffle_write_mb", engine.shuffleWriteB / mb, "MB"),
      ("engine.output_mb", engine.outputB / mb, "MB"),
      ("engine.driver_gap_s", roots.map(t.driverGap).sum, "s"))
    val byFamily = roots.filter(_.name.startsWith("query."))
      .groupBy(s => QuerySuite.family(s.name.stripPrefix("query.")))
    val queries = QuerySuite.families.flatMap { f =>
      val qs = byFamily.getOrElse(f, Nil)
      val w = work(qs)
      Seq(
        (s"queries.$f.wall_s", qs.map(_.wall).sum, "s"),
        (s"queries.$f.task_s", w.taskMs / 1e3, "s"),
        (s"queries.$f.jobs", w.jobs.toDouble, "count"),
        (s"queries.$f.driver_gap_s", qs.map(t.driverGap).sum, "s"),
        (s"queries.$f.shuffle_write_mb", w.shuffleWriteB / mb, "MB"))
    }
    val trace = Seq(
      ("trace.wall_s", roots.map(_.wall).sum, "s"),
      ("trace.harness_s",
        all.filterNot(s => layerNames(s.name)).map(t.selfWall).sum, "s"))
    setup ++ providers ++ sinks ++ engineM ++ queries ++ trace
  }
}
