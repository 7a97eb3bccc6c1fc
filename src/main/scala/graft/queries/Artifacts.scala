package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Run-scoped parquet ARTIFACTS that bridge a Spark query and its SQL
  * oracle — the mechanism that makes non-SQL-expressible TRAINING
  * hash-checkable: the query persists what it learned (k-means
  * centroids, PQ codebooks) to a deterministic path, and the DuckDB
  * oracle `read_parquet`s the same files to replay every DOWNSTREAM
  * step (assignment, probe ranking, ADC, recall) in SQL. Training
  * stays outside SQL; the *claim* (recall at these exact centroids)
  * becomes hash-verifiable — the i04-i09 round-trip pattern applied to
  * models instead of tables.
  *
  * Paths are keyed by (artifact name, corpus dir hash): stable across
  * JVMs — the oracle runs in a separate process AFTER Verify exits, so
  * these dirs deliberately outlive the session (one small dir per
  * name×corpus, overwritten each run, never accumulating) — and
  * disjoint between scale factors, so a Bench run at sf0.1 can never
  * clobber the artifact a Verify run at sf0.01 just dumped for its
  * oracle. Contents are deterministic (seeded, layout-pinned
  * training), so even a concurrent same-corpus rewrite re-writes
  * identical bytes.
  *
  * [[oracleGlob]] resolves against the corpus EACH ARTIFACT last ran
  * for in this JVM (per-name, so one query's run can never redirect
  * another's oracle), falling back to the driver's sf0.01 gate corpus
  * for artifacts that did not run — Verify runs every query before
  * dumping `oracleSql`, so at dump time registrations match the run.
  */
object Artifacts {

  private val DefaultSfDir = "/root/testdata/sf0.01"

  private val lastSfDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def hash8(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString

  /** Root scoped PER USER (java.io.tmpdir is host-shared on multi-user
    * hosts: an unscoped fixed path could be pre-created or clobbered by
    * another account, redirecting what the oracle later reads).
    * Overridable via -Dgraft.artifacts.dir for deployments that mount
    * a run-scoped scratch volume.
    */
  private val Root: String = sys.props.getOrElse("graft.artifacts.dir",
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_artifacts_" + sys.props.getOrElse("user.name", "anon")
        .replaceAll("[^A-Za-z0-9._-]", "_")).toString)

  private def path(name: String, sfDir: String): String =
    java.nio.file.Paths.get(Root, s"${name}_${hash8(sfDir)}").toString

  /** The root exists and WE own it — verified once per JVM before the
    * first overwrite, so a squatter directory owned by another local
    * user fails loudly instead of silently hosting our oracle inputs.
    * (Non-POSIX filesystems skip the owner check; the per-user name
    * already de-conflicts there.)
    */
  private lazy val verifiedRoot: String = {
    val p = java.nio.file.Paths.get(Root)
    java.nio.file.Files.createDirectories(p)
    val me = sys.props.getOrElse("user.name", "anon")
    val owner =
      try Some(java.nio.file.Files.getOwner(p).getName)
      catch { case _: UnsupportedOperationException => None }
    owner.foreach { o =>
      require(o == me,
        s"artifact root $Root is owned by '$o', not '$me' — refusing " +
          "to write oracle inputs into a directory another user " +
          "controls; set -Dgraft.artifacts.dir to a private location")
    }
    Root
  }

  /** Persist `df` as the artifact `name` for corpus `sfDir`; returns
    * the directory (also registering sfDir for [[oracleDir]]).
    * Coalesced to one file — artifacts are model-sized (KBs).
    */
  def write(df: DataFrame, name: String, sfDir: String): String = {
    verifiedRoot: Unit
    lastSfDir.put(name, sfDir)
    val dir = path(name, sfDir)
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
    dir
  }

  /** The glob a DuckDB oracle reads the artifact back from. */
  def oracleGlob(name: String): String =
    path(name, lastSfDir.getOrDefault(name, DefaultSfDir)) + "/*.parquet"

  /** Persist `df` hive-partitioned by `partCol` — the artifact variant
    * for SHARDED index stores (v55's bucket-partitioned graph), where
    * the claim under test is that serving opens only some of the
    * partition directories. Not coalesced: the directory layout IS the
    * artifact.
    */
  def writePartitioned(df: DataFrame, name: String, sfDir: String,
                       partCol: String): String = {
    verifiedRoot: Unit
    lastSfDir.put(name, sfDir)
    val dir = path(name, sfDir)
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(dir)
    dir
  }

  /** The recursive glob a DuckDB oracle reads a [[writePartitioned]]
    * artifact back from (pair with `hive_partitioning = 1` so the
    * partition column is reconstructed from the directory names). */
  def oracleGlobHive(name: String): String =
    path(name, lastSfDir.getOrDefault(name, DefaultSfDir)) + "/**/*.parquet"

  /** APPEND to a [[writePartitioned]] store — the LSM delta write: new
    * files land ONLY in the partition directories the frame actually
    * contains (Spark's per-partition append), every other shard's
    * files untouched — which is the whole point of composing a sharded
    * layout with incremental maintenance (at 100 TB: a delta batch
    * rewrites k of 2^bucketBits directories, not the store).
    * NOT idempotent: appending the same frame twice duplicates rows —
    * callers own once-per-build sequencing (the v58 snapshot cache),
    * and a fresh JVM's base [[writePartitioned]] (Overwrite) resets
    * the store before its append re-runs.
    */
  def appendPartitioned(df: DataFrame, name: String, sfDir: String,
                        partCol: String): String = {
    verifiedRoot: Unit
    lastSfDir.put(name, sfDir)
    val dir = path(name, sfDir)
    df.write.mode(SaveMode.Append).partitionBy(partCol).parquet(dir)
    dir
  }

  // ---- cross-run reuse (the model-registry pattern) -----------------
  //
  // Training artifacts are DETERMINISTIC functions of (corpus, geometry,
  // training code): same inputs → identical bytes. A fresh JVM therefore
  // doesn't need to retrain — it can adopt the previous run's artifact
  // if a sealed fingerprint proves the inputs match. The fingerprint is
  // a caller-chosen string carrying the geometry AND a version token the
  // call site bumps whenever training semantics change; the corpus is
  // already in the directory key (name × sfDir hash). An unsealed or
  // mismatching directory is rebuilt — reuse can only ever substitute
  // bit-identical contents, so oracles are unaffected.

  private def fpFile(name: String, sfDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(path(name, sfDir), "_graft_fp")

  /** True iff the artifact directory holds a completed build sealed
    * with exactly this fingerprint — the caller may skip rebuilding.
    * Also registers `sfDir` for [[oracleGlob]] like [[write]] does. */
  private def cachedHit(name: String, sfDir: String, fingerprint: String)
      : Boolean = {
    lastSfDir.put(name, sfDir)
    try {
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(path(name, sfDir), "_SUCCESS")) &&
        java.nio.file.Files.exists(fpFile(name, sfDir)) &&
        new String(java.nio.file.Files.readAllBytes(fpFile(name, sfDir)),
          "UTF-8") == fingerprint
    } catch { case _: java.io.IOException => false }
  }

  /** Seal a just-written artifact with its fingerprint (call AFTER
    * [[write]] — Overwrite mode cleared any previous marker). */
  private def seal(name: String, sfDir: String, fingerprint: String)
      : Unit =
    java.nio.file.Files.write(fpFile(name, sfDir),
      fingerprint.getBytes("UTF-8")): Unit

  /** The reuse wrapper over [[cachedHit]]/[[seal]]: if EVERY artifact
    * in `names` is sealed with exactly `fp`, skip `build` (a fresh JVM
    * adopts the previous run's bit-identical parquet); otherwise run
    * `build` — which must [[write]] every name — and seal them all.
    * A `build` that throws seals nothing, so the next call rebuilds.
    * Callers fold [[inputDigest]] of the training inputs into `fp` so
    * in-place fixture regeneration forces a rebuild.
    */
  def reuseOrBuild(sfDir: String, fp: String, names: Seq[String])
                  (build: => Unit): Unit =
    if (!names.forall(cachedHit(_, sfDir, fp))) {
      build
      names.foreach(seal(_, sfDir, fp))
    }

  /** Content identity of a training INPUT (file or directory), for
    * folding into a [[reuseOrBuild]] fingerprint — closes the reuse
    * contract's blind spot: the directory key carries the input's
    * PATH, so an in-place regeneration of the same path (new fixture
    * bytes, same location) would otherwise be invisible and a stale
    * model adopted — with the oracle replaying downstream from the
    * same artifact, correctness would still report a match, hiding
    * the drift. Digest = md5 over every regular file's (relative
    * path, size, content md5), sorted — bytes, not mtimes, so a fresh
    * clone or copy of the same fixture reuses every artifact built
    * from it, while any content change rebuilds. The inputs are
    * fixture-sized (at most 780 KB at sf0.1), so reading them is
    * cheap. Cached per (JVM, path): inputs are immutable within a run.
    */
  def inputDigest(inputPaths: String*): String = {
    val key = inputPaths.mkString("\u0000")
    digestCache.computeIfAbsent(key, { _ =>
      val entries = inputPaths.flatMap { p =>
        val root = java.nio.file.Paths.get(p)
        if (!java.nio.file.Files.exists(root)) Seq(s"$p:ABSENT")
        else {
          val s = java.nio.file.Files.walk(root)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala
              .filter(java.nio.file.Files.isRegularFile(_))
              .map(f => root.relativize(f).toString + ":" +
                java.nio.file.Files.size(f) + ":" +
                java.security.MessageDigest.getInstance("MD5")
                  .digest(java.nio.file.Files.readAllBytes(f))
                  .map(b => f"${b & 0xff}%02x").mkString)
              .toVector.sorted
          } finally s.close()
        }
      }
      hash8(entries.mkString("\n"))
    })
  }

  private val digestCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The directory of an artifact (hit or just-written) — for readers
    * on the cache-hit path, where no [[write]] returned it. */
  def resolve(name: String, sfDir: String): String = {
    lastSfDir.put(name, sfDir)
    path(name, sfDir)
  }

  // ---- per-JVM memo (the in-process half of reuse) ------------------

  /** One memo key's first build: its seconds, nested builds included. */
  final case class Built(name: String, sfDir: String, seconds: Double)

  private val memos =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Any]()

  private val built =
    new java.util.concurrent.ConcurrentLinkedQueue[Built]()

  /** The value `build` returns for (`name`, `sfDir`), built at most once
    * per JVM and shared by every later call — the snapshot-time half of
    * a query (trained models, persisted graphs, staged directories) that
    * its repeated timed runs then only consume.
    *
    *   - `name` is the first artifact directory the memo's
    *     [[reuseOrBuild]] seals (unique, since two builders sharing one
    *     would overwrite each other's parquet); a memo that seals
    *     nothing uses its method's name.
    *   - Per JVM: the cache is never written to disk; across JVMs,
    *     [[reuseOrBuild]] inside `build` is what skips retraining.
    *   - Nested calls are allowed: `build` runs outside any lock and its
    *     value is then put if absent (not `computeIfAbsent`, which
    *     throws "Recursive update" when a memo calls another), so a
    *     memo may call another memo. Two threads racing on one key may
    *     both build; the first value stored wins. `build` must not
    *     return null.
    *   - A `build` that throws caches nothing: the next call retries.
    *   - A frame value should be `localCheckpoint`ed, not `persist`ed:
    *     Bench and Verify `clearCache()` between queries, which drops a
    *     persisted frame's blocks (it then recomputes on every use) but
    *     not a checkpoint.
    *
    * Each key's first-build seconds are recorded in [[builds]].
    */
  def memo[V](name: String, sfDir: String)(build: => V): V = {
    val key = (name, sfDir)
    Option(memos.get(key)) match {
      case Some(v) => v.asInstanceOf[V]
      case None =>
        val t0 = System.nanoTime()
        val v = build
        Option(memos.putIfAbsent(key, v)) match {
          case Some(first) => first.asInstanceOf[V]
          case None =>
            built.add(Built(name, sfDir, (System.nanoTime() - t0) / 1e9))
            v
        }
    }
  }

  /** Every memo key built so far in this JVM, in the order the builds
    * finished (a nested memo finishes before the memo that called it). */
  def builds: Seq[Built] = {
    import scala.jdk.CollectionConverters._
    built.asScala.toSeq
  }
}
