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
}
