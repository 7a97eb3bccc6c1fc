package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** A wrong answer: the operation counts as failed and yields no timing. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What a workload needs from the harness: the session, the tracer, a
  * private work directory, and `op`, which times one call into the
  * program, checks its answer and counts it. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val seed: Long, val work: Path) {
  var attempted = 0L
  var failed = 0L
  /** Timed nanoseconds of the cycle in progress (calls only, no checks). */
  var cycleNs = 0L
  /** Request id for spans: the cycle number; negative in set-up and warm-up. */
  var req = -1
  /** Named scalar observations a workload records for the traced run. */
  val observed = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def observe(name: String, v: Double): Unit =
    observed.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Time `body` as the program call named `name`, then run `check` on
    * its result outside the timing. A throw from either counts the call
    * as failed and aborts the cycle. */
  def op[T](name: String)(body: => T)(check: T => Unit): T = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val r = tracer.span(name, req)(body)
      val dt = System.nanoTime() - t0
      check(r)
      cycleNs += dt
      r
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: $name failed: $e")
        throw e
    }
  }

  /** A direct call into one layer, spanned. A throw counts as a failed
    * operation. */
  def layer[T](name: String)(body: => T): T =
    try tracer.span(name, req)(body)
    catch {
      case NonFatal(e) =>
        attempted += 1; failed += 1
        System.err.println(s"perfbench: $name failed: $e")
        throw e
    }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  /** The rows of `df`, collected, as a local frame: forces `df` and
    * hands the next layer an input that costs nothing to recompute. */
  def force(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
}

/** One workload: a timed set-up, then a closed loop of cycles. Each
  * cycle issues a fixed sequence of calls, each waiting for the last. */
trait Workload {
  /** One full set-up into a fresh store; timed by the harness. */
  def setup(rep: Int): Unit
  /** Untimed cycles after the cold set-up. */
  def warmupCycles: Int
  /** Untimed preparation of the reference answers after each set-up. */
  def prepare(): Unit = ()
  def cycle(i: Int): Unit
  /** Traced runs only: direct calls into each layer on the path of
    * cycle `i`, so their time can be attributed. */
  def replay(i: Int): Unit = ()
  /** Extra run-level correctness verdict (beyond per-call checks). */
  def verdict(): Boolean = true
  /** Share of the exact top-k the program returned. */
  def recall: Double
}

object Main {
  /** Timed set-ups, after one untimed cold one; `setup_s` is their median. */
  val SetupReps = 4
  /** Hard stop for the measured loop, whatever `--seconds` says. */
  val LoopWallLimitS = 60

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = opt("cpus").toInt
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try {
        val line = run(spark, workload, seed, seconds, traced, work,
          opt.get("trace-out").map(Paths.get(_)))
        println(line)
        0
      } catch {
        case t: Throwable =>
          System.err.println(s"perfbench: run aborted: $t")
          t.printStackTrace()
          1
      } finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
          traced: Boolean, work: Path, traceOut: Option[Path]): String = {
    val t00 = System.nanoTime()
    def mark(what: String) = System.err.println(f"perfbench: t=${(System.nanoTime() - t00) / 1e9}%.1f $what")
    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, tracer, seed, work)
    val w: Workload = name match {
      case "rag_serve" => new RagServe(ctx)
      case "ann_walk" => new AnnWalk(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    mark("inputs ready")

    // Set-up failures propagate: the run exits non-zero with no result.
    def setup(rep: Int): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      tracer.span("setup", -1)(w.setup(rep))
      val dt = (System.nanoTime() - t0) / 1e9
      w.prepare()
      dt
    }
    def cycle(i: Int): Option[Long] = {
      ctx.cycleNs = 0L; ctx.req = i
      try { w.cycle(i); Some(ctx.cycleNs) }
      catch { case NonFatal(_) => None }
    }
    // The JIT keeps compiling the planner for tens of seconds after the
    // first, cold set-up. That set-up and a fixed count of cycles run
    // untimed, so every run times its set-ups and cycles from the same
    // warm state.
    setup(0)
    (1 to w.warmupCycles).foreach(j => cycle(-j))
    mark("warm")
    val setupS = (1 to SetupReps).map(setup)
    mark("setups done")
    // what the set-up leaves cached in Spark's storage: indexes, graph
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)

    val gc0 = gcMs()
    val samples = mutable.ArrayBuffer.empty[Long]
    val loopStart = System.nanoTime()
    var i = 0
    while (samples.sum < seconds * 1e9 &&
           System.nanoTime() - loopStart < LoopWallLimitS * 1e9) {
      cycle(i).foreach { ns =>
        samples += ns
        // failures are already counted where they happened
        if (traced) try tracer.span("replay", i)(w.replay(i)) catch { case NonFatal(_) => }
      }
      i += 1
    }
    val gcLoopMs = gcMs() - gc0
    mark("measured")
    ctx.req = -1
    // a failed call in the verdict is already counted where it happened
    val ok = try w.verdict() catch { case NonFatal(_) => false }
    tracer.drain()

    val cycleMs = samples.map(_ / 1e6).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", median(setupS), "s"),
        ("cycle_p50_ms", median(cycleMs), "ms"),
        ("cached_mb", cachedMb, "MB"),
        ("recall_at_k", w.recall, "ratio"))
      else Layers.metrics(ctx, tracer, median(cycleMs), gcLoopMs)

    traceOut.foreach { p =>
      Files.createDirectories(p.toAbsolutePath.getParent)
      Files.write(p, tracer.toJson.getBytes("UTF-8"))
    }
    System.err.println(s"perfbench: $name seed=$seed setups=" +
      setupS.map(s => f"$s%.2f").mkString(",") +
      f" cached=$cachedMb%.1fMB warmup=${w.warmupCycles} cycles=${samples.size} (${cycleMs.map(m => f"$m%.0f").mkString(",")})")
    // sample counts ride a line of their own: the result line's keys are fixed
    println(Serialization.write(Map("samples" -> Map(
      "setup_s" -> setupS.size, "cycle_p50_ms" -> samples.size,
      "warmup_cycles" -> w.warmupCycles)))(DefaultFormats))
    Serialization.write(Map(
      "correct" -> (ok && ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> metrics.map { case (k, v, u) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap))(DefaultFormats)
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
}
