package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    SparkEntry.requireReferenceDb()
    val spark = SparkEntry.session()
    spark.sparkContext.setLogLevel("WARN")
    // Timed runs per query, report the fastest: the first run of a
    // plan shape pays one-time janino/JIT compilation (seconds of noise
    // on sub-second queries), and the build host has noisy neighbors —
    // min-of-3 measures the steady state through transient load spikes.
    // clearCache between runs drops per-call persisted intermediates
    // (LSH signatures, postings) so data is still computed fresh.
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // Named artifact-ownership phase (full-inventory runs only): build
    // every shared per-corpus artifact ONCE, before any timing, so no
    // query's measurement includes another query's snapshot-time index/
    // model construction landing on it by run order. Reported as
    // setup_sec — visible, not hidden — and NOT added to per-query
    // numbers or the total (which, as min-of-N, already excluded these
    // one-time builds in steady state; the phase removes the first-run
    // spikes that made per-run arrays bimodal). Subset runs skip it:
    // a dev loop timing one query shouldn't pay every artifact.
    val (setup: Double, owners: Seq[SparkEntry.Warmed]) =
      if (sys.env.contains("SPARK_GRAFT_ONLY")) (0.0, Seq.empty)
      else {
        val t0 = System.nanoTime()
        val os = SparkEntry.warm(spark, sfDir)
        os.foreach { w =>
          System.err.println(f"[warm] ${w.name}%-24s ${w.seconds}%.2f s")
        }
        spark.catalog.clearCache() // same state every timed query sees
        ((System.nanoTime() - t0) / 1e9, os)
      }
    // memo keys built from here on were built inside a timed run: an
    // artifact no warm owner builds lands on its first consumer's time
    val builtBeforeTimed = graft.queries.Artifacts.builds.size
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma-decimal locale (de_DE) would render 114,126 — invalid JSON
    def fmt3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    // per-owner warm timings as JSON so warm-phase regressions are
    // machine-diffable round-over-round like per-query timings are
    val setupJson = owners
      .map(w => "\"" + w.name + "\":" + fmt3(w.seconds))
      .mkString("{", ",", "}")
    // a failed owner's artifact gets built inside its first consumer's
    // timed run, inflating that query: the failures ride the artifact
    val setupFailed = owners.flatMap(w => w.failure.map(w.name -> _))
    // INTERLEAVED sweeps: run the whole inventory once per sweep and
    // take each query's min ACROSS sweeps — not N consecutive runs per
    // query. Consecutive runs of a short query all complete inside the
    // same measurement window, so a window-scale distortion (JIT/C2
    // compilation in a freshly-started JVM, a host-load spike) inflates
    // every run and the min can't escape it — exactly the round-12
    // early-alphabet drift: the warm phase got 28 s shorter (cross-run
    // model reuse), the JVM entered the timed section cold, and the
    // alphabetically-first i*/r* queries measured 3/3 elevated runs
    // (isolated reproduction: run arrays like [6.5, 1.5, 1.3, 1.2,
    // 1.1, 1.1] — run 1 pays compilation, steady state matches the
    // pins). Sweep N+1 starts a full inventory (~2 min of execution)
    // after sweep N touched the same query, so repeat measurements are
    // far outside both the cold window and any single load spike.
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => SparkEntry.selected(n) }
    val sweeps: Seq[Map[String, Double]] = (1 to runs).map { _ =>
      names.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // a failed query must NOT masquerade as a fast success: -1 marker
        val dt =
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
          }
        spark.catalog.clearCache()
        name -> dt
      }.toMap
    }
    val results: Map[String, (Double, Seq[Double])] = names.map {
      case (name, _) =>
        val times = sweeps.map(_(name))
        name -> (if (times.exists(_ < 0)) -1.0 else times.min, times)
    }.toMap
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, (v, _)) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // ALL N per-run times, not just the min: a degraded measurement
    // window ("every run slow" = real regression) and a transient host
    // spike ("one bad window" = noise) are indistinguishable from a
    // min alone — the artifact must carry enough to adjudicate without
    // a re-run. scripts/benchruns.py reads this field.
    val runsJson = results.toSeq.sortBy(_._1)
      .map { case (k, (_, ts)) =>
        s"\"" + k + "\":" + ts.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val builtInTimedJson = graft.queries.Artifacts.builds
      .drop(builtBeforeTimed)
      .map(b => s"""{"name": ${SparkEntry.jsonString(b.name)}, """ +
        s""""sf_dir": ${SparkEntry.jsonString(b.sfDir)}, """ +
        s""""seconds": ${fmt3(b.seconds)}}""")
      .mkString("[", ",", "]")
    // -1 failure markers must not subtract from (and so flatter) the
    // total: sum successful queries only
    val total = results.values.map(_._1).filter(_ >= 0).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""runs":$runsJson,"setup_sec":$setup,"setup":$setupJson,""" +
        s""""setup_failed":${SparkEntry.failuresJson(setupFailed)},""" +
        s""""built_in_timed_runs":$builtInTimedJson,""" +
        s""""sf":"$sfDir"}"""
    // The FULL artifact (per-query mins + all N per-run times + the
    // per-owner warm map) goes to a file: at 200+ queries the line is
    // >20 KB, and the driver keeps only the last ~2 KB of stdout — a
    // full line on stdout is guaranteed to arrive truncated and
    // unparseable (the r9/r10 `"parsed": null` artifacts). stdout gets
    // a COMPACT summary line instead, small enough to survive a 2 KB
    // tail capture even with a trailing sbt status line, pointing at
    // the file for the per-query detail.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    val nOk = results.values.count(_._1 >= 0)
    val nFail = results.size - nOk
    println(
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""n_queries":${results.size},"n_failed":$nFail,""" +
        s""""setup_sec":${fmt3(setup)},""" +
        s""""n_setup_failed":${setupFailed.size},""" +
        s""""queries_file":"$outFile",""" +
        s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
