package perfbench

/** The per-layer metrics of a traced run. Every name is reported on
  * every workload; a layer the workload never calls reads 0.
  *
  * - `latency.<op>.ms`: median duration of the op's timed calls under
  *   tracing; `trace.cycle_p50_ms` is the traced run's cycle median,
  *   which against the untraced `cycle_p50_ms` of the same seed gives
  *   the tracing overhead.
  * - `spark.<counter>.<op>`: median per call of the op's Spark jobs,
  *   tasks, planning time (analysis + optimisation + physical planning,
  *   from each execution's `QueryPlanningTracker`), driver gap (call
  *   time outside any job), task CPU, shuffle and spill bytes.
  * - `<Layer>.<function>.ms`: median self time of direct calls into
  *   that public function, each forced with `collect` or `count`.
  *   `Search.exact.ms` is the whole exact scan of the walk's batch.
  */
object Layers {
  val Ops = Seq("search", "answer", "context", "hybrid", "diverse", "walk")

  private val PerOp = Seq("jobs" -> "count", "tasks" -> "count",
    "plan_ms" -> "ms", "driver_gap_ms" -> "ms")
  private val HeavyOp = Seq(
    "task_cpu_ms" -> Seq("search", "hybrid", "walk"),
    "shuffle_bytes" -> Seq("hybrid", "walk"),
    "spill_bytes" -> Seq("walk"))

  val LayerCalls = Seq("Engine.documents", "Engine.loadDocuments",
    "Engine.index", "Engine.lexicalIndex", "Sources.textDir",
    "Embedder.embed", "Search.topK", "Search.topKWithVec", "Search.enrich",
    "Search.contextAgg", "Search.mmrRerank", "Search.scoreAll",
    "Search.topKPerQuery", "TextSearch.bm25ScoresIndexed",
    "TextSearch.rrfFuse", "TextSearch.buildBm25Index", "Chunker.chunk",
    "Ingest.hashEmbed", "Ingest.dedupIngest", "Ingest.assignIdsAfter",
    "Ingest.withStoreLock", "Ingest.writeStore", "Ingest.buildIndex",
    "Ann.topDegreeEntries")

  /** Every per-layer metric name with its unit, in report order. */
  val Names: Seq[(String, String)] =
    Ops.map(o => s"latency.$o.ms" -> "ms") ++
    PerOp.flatMap { case (c, u) => Ops.map(o => s"spark.$c.$o" -> u) } ++
    HeavyOp.flatMap { case (c, os) =>
      os.map(o => s"spark.$c.$o" -> (if (c.endsWith("ms")) "ms" else "bytes")) } ++
    Seq("jvm.gc_ms" -> "ms", "trace.cycle_p50_ms" -> "ms") ++
    LayerCalls.map(l => s"$l.ms" -> "ms") ++
    Seq("Search.exact.ms" -> "ms", "Ann.buildKnnGraph.s" -> "s",
      "index.rows" -> "count", "index.partitions" -> "count",
      "Ingest.novel_ratio" -> "ratio", "Ann.nodes_touched" -> "count")

  def metrics(ctx: Ctx, tracer: Tracer, cycleP50Ms: Double,
              gcMs: Long): Seq[(String, Double, String)] = {
    import Main.median
    val byName = tracer.spans.groupBy(_.name)
    def spansOf(n: String) = byName.getOrElse(n, Nil).toSeq
    // timed calls only: warm-up cycles carry negative request ids
    def calls(op: String) = spansOf(op).filter(_.req >= 0)
    def costs(op: String) = calls(op).map(tracer.sparkCost)
    def obs(n: String) = ctx.observed.getOrElse(n, Nil).toSeq
    val values: Map[String, Double] = (
      Ops.map(o => s"latency.$o.ms" -> median(calls(o).map(_.durNs / 1e6))) ++
      Ops.flatMap { o =>
        val c = costs(o)
        Seq(s"spark.jobs.$o" -> median(c.map(_.jobs.toDouble)),
          s"spark.tasks.$o" -> median(c.map(_.tasks.toDouble)),
          s"spark.plan_ms.$o" -> median(c.map(_.planMs)),
          s"spark.driver_gap_ms.$o" -> median(c.map(_.driverGapMs)),
          s"spark.task_cpu_ms.$o" -> median(c.map(_.cpuMs)),
          s"spark.shuffle_bytes.$o" -> median(c.map(_.shuffleBytes.toDouble)),
          s"spark.spill_bytes.$o" -> median(c.map(_.spillBytes.toDouble)))
      } ++
      LayerCalls.map(l => s"$l.ms" -> median(spansOf(l).map(tracer.selfMs))) ++
      Seq("jvm.gc_ms" -> gcMs.toDouble,
        "trace.cycle_p50_ms" -> cycleP50Ms,
        // the whole exact scan (scoreAll + topKPerQuery) of the walk's batch
        "Search.exact.ms" -> median(calls("Search.exact").map(_.durNs / 1e6)),
        "Ann.buildKnnGraph.s" ->
          median(spansOf("Ann.buildKnnGraph").map(tracer.selfMs)) / 1e3,
        "index.rows" -> median(obs("index.rows")),
        "index.partitions" -> median(obs("index.partitions")),
        "Ingest.novel_ratio" -> {
          val offered = obs("ingest.offered").sum
          if (offered == 0) 0.0 else obs("ingest.novel").sum / offered
        },
        "Ann.nodes_touched" -> median(obs("Ann.nodes_touched")))
    ).toMap
    Names.map { case (n, u) => (n, values(n), u) }
  }
}
