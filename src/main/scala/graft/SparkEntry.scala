package graft

import graft.queries.{IngestQueries, RelationalQueries, StreamingQueries, TextQueries, VectorQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query inventory (one entry per implemented operator, SURVEY.md §2):
  *   v* — vector search surface (the reference's flagship pipeline)
  *   r* — relational operator coverage (TPC-H-ish tables)
  *   t* — text/dedup/multimodal training-data pipeline
  *   i* — ingest path (embed, dedup-ingest, id assignment)
  *   s* — Structured Streaming (batch/stream parity oracles)
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: the reference's whole
    * read path — embed-free k-NN cosine top-k over the index
    * (reference server.js:217-265). Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    VectorQueries.knnTopK(spark, "/root/testdata/sf0.001", k = 5)

  /** The local session every graft main runs in (Bench, Verify,
    * PlansDump, PlanProbe). `SPARK_GRAFT_CPUS` (default
    * 4) sizes both the master and the shuffle partitions; each main
    * sets its own log level. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // outside sbt's forked -D flags, a non-UTC JVM would shift the
      // TIMESTAMP_NTZ events
      .config("spark.sql.session.timeZone", "UTC")
      // Static conf sizing CodeGenerator's generated-class cache
      // (default 100 entries). Bench's interleaved sweep visits all
      // 214 queries between two runs of the same query, so at the
      // default size every timed run pays full Janino recompilation
      // of every stage — a +0.3-1.0 s tax on nearly every query
      // (measured: the first interleaved full run came in at 172.7 s
      // vs 142.9 s consecutive-run, with no early-alphabet drift but a
      // broad flat inflation). Sized to hold the whole inventory's
      // generated classes so sweep N+1 re-measures the query, not the
      // compiler.
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      // Injected runtime bloom filters OFF (round-15 measurement, the
      // true source of the r14 bench tail's 4.1/2.2 MiB task-binary
      // warnings mis-attributed to v66/v67 literals): localCheckpoint
      // frames (every beam-walk round) are LogicalRDDs with UNKNOWN
      // stats, which defeats InjectRuntimeFilter's 10 GiB application-
      // side threshold, so Spark injected 1 MiB statically-sized
      // blooms (1M items / 8.4M bits vs 280-row fixture scans) whose
      // payloads literal-fold into EVERY task binary of every walk
      // stage. At deployment scale the injection wouldn't fire either
      // (corpus-scale creation sides exceed the 10 MB
      // creationSideThreshold); where a runtime filter IS the right
      // shape, the engine sizes one explicitly from corpus knowledge
      // (Prefilter.bloomSemiFilter — r31's pattern).
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      .config("spark.ui.enabled", "false")
      // local profiling aid; the driver never sets this
      .config("spark.eventLog.enabled",
        sys.env.getOrElse("SPARK_GRAFT_EVENTLOG", "false"))
      .config("spark.eventLog.dir",
        sys.env.getOrElse("SPARK_GRAFT_EVENTLOG_DIR", "/tmp/spark-events"))
      .getOrCreate()
  }

  /** Ends a main with status 2, before its first query, when
    * [[graft.sources.Sources.referenceDb]] is not a file. Without it
    * the reference-geometry queries each fail with PATH_NOT_FOUND, and
    * only after the whole run. */
  def requireReferenceDb(): Unit = {
    val db = graft.sources.Sources.referenceDb
    if (!new java.io.File(db).isFile) {
      System.err.println(s"reference store $db is not a file: set " +
        "-Dgraft.reference.dir to the directory holding vectors.db " +
        "(the relative default resolves against the working directory)")
      sys.exit(2)
    }
  }

  /** Whether query `name` is in the `SPARK_GRAFT_ONLY` subset, the
    * dev-loop filter of Bench and Verify: comma-separated name
    * prefixes. Unset (a full run) selects every query, and so does a
    * set-but-empty value ("".startsWith matches every name).
    */
  def selected(name: String): Boolean =
    sys.env.get("SPARK_GRAFT_ONLY")
      .forall(_.split(",").exists(name.startsWith))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    VectorQueries.queries ++ RelationalQueries.queries ++
      TextQueries.queries ++ IngestQueries.queries ++ StreamingQueries.queries

  def oracleSql: Map[String, String] =
    (VectorQueries.oracles ++ RelationalQueries.oracles ++
      TextQueries.oracles ++ IngestQueries.oracles ++
      StreamingQueries.oracles)
      .view.mapValues(materializeCtes).toMap

  /** DuckDB 1.0 INLINES every plain CTE at each reference site, so an
    * oracle whose expensive CTE (the 20-plane × 1536-dim sketch, the
    * blocked pair join, the rotation matvec) is referenced N times
    * pays it N times — measured on the round-18 tree: the v76/v78
    * replays cost 721 s / 629 s plain vs 36 s / 35 s with
    * `AS MATERIALIZED`, identical results (the whole 245-oracle
    * sweep was ~42 min, dominated by exactly this). Every top-level
    * CTE is therefore pinned MATERIALIZED at the dump point — one
    * mechanical rewrite instead of 245 hand-audits; single-use CTEs
    * are materialization-neutral at these (model-sized) widths.
    * Recursive WITH-lists are left untouched: duckdb 1.0
    * mis-evaluates plain CTEs inside a WITH RECURSIVE list as it is
    * (the v76 scaladoc's measured bug), and the iteration-semantics
    * interaction with MATERIALIZED is not worth auditing for the few
    * cheap closure oracles that use them. */
  private def materializeCtes(sql: String): String =
    if (sql.contains("RECURSIVE")) sql
    else sql
      .replaceAll("(?m)^WITH ([a-zA-Z][a-zA-Z0-9_]*) AS \\(",
        "WITH $1 AS MATERIALIZED (")
      .replaceAll("(?m)^([a-zA-Z][a-zA-Z0-9_]*) AS \\(",
        "$1 AS MATERIALIZED (")

  /** Artifact-only warmers, in warm order, named by the OWNER query of
    * each build-once per-corpus artifact (near-dup pair graph +
    * components, Jaccard/substring indexes, SemDeDup and classifier
    * fixtures, curation survivors, BPE model, the trained IVF-PQ
    * codebooks/indexes). Each builds/seals/loads its owner's shared
    * snapshot artifacts WITHOUT running the owner's serving body, so a
    * timed sweep afterwards measures CONSUMPTION in every run of every
    * query — artifact construction is owned by this named list, not by
    * whichever consumer happens to run first (the run-order timing
    * noise the round-9 bench showed as bimodal first-run spikes).
    * Bench executes these as its setup phase and reports the one-time
    * cost as `setup_sec`. */
  private[graft] val warmers
      : Seq[(String, (SparkSession, String) => Unit)] =
    graft.queries.TextQueries.warmers ++ graft.queries.VectorQueries.warmers

  /** One owner's warm step: its wall time, and the message of the
    * error it threw, if any. */
  final case class Warmed(name: String, seconds: Double,
                          failure: Option[String])

  /** Build every shared artifact through [[warmers]]. Errors are not
    * fatal, but each is reported in its owner's [[Warmed]]: a failed
    * owner's artifact is built inside the first consumer's timed run
    * instead, so the caller must surface it. */
  def warm(spark: SparkSession, sfDir: String): Seq[Warmed] =
    warmers.map { case (name, fn) => warmStep(name)(fn(spark, sfDir)) }

  /** Times one owner's warm step and catches its error into the
    * returned [[Warmed]]. */
  def warmStep(name: String)(body: => Unit): Warmed = {
    val t0 = System.nanoTime()
    val failure =
      try { body; None }
      catch { case e: Throwable =>
        System.err.println(s"[warm] $name failed: ${e.getMessage}")
        Some(String.valueOf(e.getMessage))
      }
    Warmed(name, (System.nanoTime() - t0) / 1e9, failure)
  }

  /** (name, message) failures as a JSON list of {"name", "message"}
    * objects, `[]` when there are none. */
  def failuresJson(failures: Seq[(String, String)]): String =
    failures.map { case (n, m) =>
      s"""{"name": ${jsonString(n)}, "message": ${jsonString(m)}}""" }
      .mkString("[", ",", "]")

  /** A JSON string literal: escapes the backslash, the quote and every
    * control character (< 0x20), so any message stays valid JSON. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
