package graft

import graft.queries.Artifacts
import org.apache.spark.sql.functions._

/** The artifact store's LSM contract: a partitioned APPEND writes new
  * files ONLY under the partition directories the delta frame
  * contains — every other shard's files stay byte-identical (the v58
  * sharded-maintenance claim, asserted at the filesystem level the
  * query's `shards_written` column can't see).
  */
class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  private def shardFiles(dir: String): Map[String, Set[(String, Long, Long)]] = {
    val root = java.nio.file.Paths.get(dir)
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(root)
    try {
      s.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map { f =>
          val rel = root.relativize(f)
          val shard = rel.getName(0).toString // "shard=N"
          (shard, (rel.toString, java.nio.file.Files.size(f),
            java.nio.file.Files.getLastModifiedTime(f).toMillis))
        }
        .toVector.groupBy(_._1).map { case (k, v) =>
          k -> v.map(_._2).toSet
        }
    } finally s.close()
  }

  test("appendPartitioned writes only the delta's shard directories; " +
      "untouched shards stay byte-stable and the read-back is the " +
      "union") {
    val sfKey = "/tmp/graft_spec_append_corpus"
    val base = Seq.tabulate(40)(i => (i.toLong, i.toLong % 4))
      .toDF("id", "shard")
    val dir = Artifacts.writePartitioned(base, "spec_append_store",
      sfKey, "shard")
    val before = shardFiles(dir)
    assert(before.keySet == Set("shard=0", "shard=1", "shard=2",
      "shard=3"))
    // delta touches shards 1 and 3 only
    val delta = Seq((100L, 1L), (101L, 3L), (102L, 3L))
      .toDF("id", "shard")
    Artifacts.appendPartitioned(delta, "spec_append_store", sfKey,
      "shard")
    val after = shardFiles(dir)
    assert(after("shard=0") == before("shard=0"),
      "shard 0 changed under an append that contains no shard-0 rows")
    assert(after("shard=2") == before("shard=2"),
      "shard 2 changed under an append that contains no shard-2 rows")
    assert(after("shard=1").size > before("shard=1").size &&
        before("shard=1").subsetOf(after("shard=1")),
      "shard 1 must gain files without rewriting existing ones")
    assert(after("shard=3").size > before("shard=3").size &&
        before("shard=3").subsetOf(after("shard=3")),
      "shard 3 must gain files without rewriting existing ones")
    val back = spark.read.parquet(dir)
    assert(back.count() == 43)
    assert(back.filter(col("id") >= 100L).count() == 3)
  }

  test("inputDigest changes when an input file's content length " +
      "changes, and is stable across calls in one JVM only via its " +
      "cache key") {
    val f = java.nio.file.Files.createTempFile("graft_digest", ".dat")
    try {
      java.nio.file.Files.write(f, "abc".getBytes("UTF-8"))
      val d1 = Artifacts.inputDigest(f.toString)
      // same path, same content → cached, stable
      assert(Artifacts.inputDigest(f.toString) == d1)
      // a DIFFERENT path with different content digests differently
      val g = java.nio.file.Files.createTempFile("graft_digest2", ".dat")
      try {
        java.nio.file.Files.write(g, "abcdef".getBytes("UTF-8"))
        assert(Artifacts.inputDigest(g.toString) != d1)
      } finally java.nio.file.Files.delete(g)
      // an absent path digests (to a sentinel), not throws
      Artifacts.inputDigest("/tmp/graft_definitely_absent_xyz"): Unit
    } finally java.nio.file.Files.delete(f)
  }

  test("inputDigest hashes content, not mtimes: the same bytes under " +
      "different mtimes digest equal, a one-byte change differs") {
    import java.nio.file.{Files, Path}
    import java.nio.file.attribute.FileTime
    def tree(bytes: Array[Byte], mtime: Long): Path = {
      val d = Files.createTempDirectory("graft_digest_tree")
      Files.createDirectories(d.resolve("sub"))
      Seq(d.resolve("a.dat"), d.resolve("sub/b.dat")).foreach { f =>
        Files.write(f, bytes)
        Files.setLastModifiedTime(f, FileTime.fromMillis(mtime))
      }
      d
    }
    val bytes = "graft fixture".getBytes("UTF-8")
    val changed = bytes.clone()
    changed(3) = (changed(3) + 1).toByte
    val dirs = Seq(tree(bytes, 1000000000000L),
      tree(bytes, 1600000000000L), tree(changed, 1000000000000L))
    try {
      val Seq(d1, d2, d3) = dirs.map(d => Artifacts.inputDigest(d.toString))
      assert(d1 == d2)
      assert(d1 != d3)
    } finally dirs.foreach { d =>
      Seq("a.dat", "sub/b.dat", "sub").foreach(p =>
        Files.delete(d.resolve(p)))
      Files.delete(d)
    }
  }

  test("a failed warm step keeps its message, and the failures JSON " +
      "lists it as valid JSON; a clean step reports none") {
    val msg = "no \"corpus\"\n\tat step 2"
    val failed = SparkEntry.warmStep("v00_owner")(
      throw new IllegalStateException(msg))
    val ok = SparkEntry.warmStep("v01_owner")(())
    assert(failed.failure.contains(msg) && ok.failure.isEmpty)
    def json(ws: SparkEntry.Warmed*) =
      SparkEntry.failuresJson(ws.flatMap(w => w.failure.map(w.name -> _)))
    assert(json(ok) == "[]")
    assert(spark.read.json(Seq(json(ok, failed)).toDS())
      .select("name", "message")
      .as[(String, String)].collect().toSeq == Seq(("v00_owner", msg)))
  }

  /** A corpus key no earlier run has used, so no seal or memo from a
    * previous test run can answer for it. */
  private def freshSfDir(tag: String): String =
    s"/tmp/graft_spec_${tag}_${System.nanoTime()}"

  private def deleteArtifacts(sfDir: String, names: String*): Unit =
    names.foreach { n =>
      val p = java.nio.file.Paths.get(Artifacts.resolve(n, sfDir))
      if (java.nio.file.Files.exists(p)) {
        val s = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toVector.reverse
            .foreach(java.nio.file.Files.delete)
        } finally s.close()
      }
    }

  test("memo builds once per (name, sfDir), nests, records each first " +
      "build, and caches nothing when its build throws") {
    val (a, b) = (freshSfDir("memo_a"), freshSfDir("memo_b"))
    var outer, inner = 0
    def innerMemo(sf: String): Int =
      Artifacts.memo("spec_memo_inner", sf) { inner += 1; 20 }
    def outerMemo(sf: String): Int =
      Artifacts.memo("spec_memo_outer", sf) {
        outer += 1; innerMemo(sf) + 1
      }
    assert(outerMemo(a) == 21 && outerMemo(a) == 21 && innerMemo(a) == 20)
    assert((outer, inner) == ((1, 1)))
    // another corpus is another key
    assert(outerMemo(b) == 21 && (outer, inner) == ((2, 2)))
    // the same corpus under another name is another key, of another type
    assert(Artifacts.memo("spec_memo_other", a)("x") == "x")
    val mine = Artifacts.builds.filter(k => k.sfDir == a || k.sfDir == b)
    assert(mine.map(k => (k.name, k.sfDir)) == Seq(
      ("spec_memo_inner", a), ("spec_memo_outer", a),
      ("spec_memo_inner", b), ("spec_memo_outer", b),
      ("spec_memo_other", a)))
    assert(mine.forall(_.seconds >= 0.0))
    // a throwing build stores nothing: the next call builds again
    var tries = 0
    def flaky(): Int = Artifacts.memo("spec_memo_flaky", a) {
      tries += 1
      if (tries == 1) throw new IllegalStateException("first try fails")
      tries
    }
    assert(intercept[IllegalStateException](flaky()).getMessage ==
      "first try fails")
    assert(flaky() == 2 && flaky() == 2 && tries == 2)
    assert(Artifacts.builds
      .count(k => k.name == "spec_memo_flaky" && k.sfDir == a) == 1)
  }

  test("reuseOrBuild skips a build only when every name is sealed with " +
      "the same fingerprint; a throwing build leaves no seal") {
    val sf = freshSfDir("reuse")
    val names = Seq("spec_reuse_a", "spec_reuse_b")
    try {
      var builds = 0
      def reuse(fp: String): Unit = Artifacts.reuseOrBuild(sf, fp, names) {
        builds += 1
        names.foreach(n => Artifacts.write(Seq(builds).toDF("x"), n, sf))
      }
      reuse("fp1"); assert(builds == 1)
      reuse("fp1"); assert(builds == 1)   // sealed, same fingerprint
      reuse("fp2"); assert(builds == 2)   // another fingerprint
      reuse("fp2"); assert(builds == 2)
      // one name rewritten without a seal: the set no longer matches
      Artifacts.write(Seq(0).toDF("x"), "spec_reuse_b", sf)
      reuse("fp2"); assert(builds == 3)
      reuse("fp2"); assert(builds == 3)
      // a build that throws after writing seals nothing
      intercept[IllegalStateException](
        Artifacts.reuseOrBuild(sf, "fp3", names) {
          names.foreach(n => Artifacts.write(Seq(9).toDF("x"), n, sf))
          throw new IllegalStateException("training diverged")
        })
      reuse("fp3"); assert(builds == 4)
      assert(spark.read.parquet(Artifacts.resolve("spec_reuse_a", sf))
        .as[Int].collect().toSeq == Seq(4))
    } finally deleteArtifacts(sf, names: _*)
  }

  test("warmer names are distinct, and each names a registered query") {
    val names = SparkEntry.warmers.map(_._1)
    assert(names.distinct == names)
    assert(names.filterNot(SparkEntry.queries.contains).isEmpty)
  }
}
