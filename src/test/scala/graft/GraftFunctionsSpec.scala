package graft

import graft.operators.Multimodal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SQL surface + multimodal plumbing. */
class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("register exposes cosine_sim/dot_product/l2_distance to SQL text") {
    GraftFunctions.register(spark)
    val (c, d, l) = spark.sql(
      """SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)),
        |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)),
        |       l2_distance(array(0.0D, 3.0D), array(4.0D, 0.0D))""".stripMargin)
      .as[(Double, Double, Double)].head()
    assert(c == 1.0 && d == 11.0 && l == 5.0)
    val q = spark
      .sql("SELECT int8_quantize(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT)))")
      .as[Seq[Float]].head()
    assert(q == Seq(127f, -63f), q)
  }

  test("hash kernels are callable from SQL text and match the column API") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT size(hash_embed('hello world', 16)) AS dim,
        |       md5_long_array(array('a', 'b'))[0] AS h0,
        |       size(shingle_hashes(array('a','b','c','d'), 3)) AS nsh,
        |       size(minhash_signature(
        |         shingle_hashes(array('a','b','c','d'), 3), 8)) AS sig,
        |       simhash_bits(md5_long_array(array('a','b')), 16) AS sh,
        |       cosine_lsh_bits(array(1.0D, 0.0D), 16) AS lsh,
        |       nfc_normalize('cafe\u0301') AS nfc""".stripMargin)
      .as[(Int, Long, Int, Int, Long, Long, String)].head()
    assert(row._1 == 16 && row._3 == 2 && row._4 == 8)
    assert(row._7 == "caf\u00e9")
    // every SQL result must equal the column-API twin on the same input
    val h = Seq("a").toDF("s")
      .select(graft.functions.HashFunctions.md5Long(col("s")))
      .as[Long].head()
    assert(row._2 == h)
    val sh = Seq(Seq("a", "b")).toDF("toks")
      .select(graft.operators.Dedup
        .simHashFromHashes(graft.functions.HashFunctions
          .md5LongArray(col("toks")), 16))
      .as[Long].head()
    assert(row._5 == sh, s"simhash sql=${row._5} column=$sh")
    val lsh = Seq(Seq(1.0, 0.0)).toDF("v")
      .select(graft.functions.HashFunctions.cosineLshBits(col("v"), 16))
      .as[Long].head()
    assert(row._6 == lsh, s"lsh sql=${row._6} column=$lsh")
    // the literal-int contract is enforced (a foldable expression like
    // size(array(1,2)) is fine — it folds to a constant; a genuinely
    // per-row argument is not)
    val err = intercept[Exception] {
      spark.sql("SELECT hash_embed('x', CAST(rand() * 10 AS INT))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("literal") ||
      Option(err.getCause).exists(_.getMessage.contains("literal")))
  }

  test("GraftExtensions injects the functions at session build time") {
    // a second session, not SparkEntry.session(): the extensions must
    // be injected at build time. getOrCreate would return the shared
    // session (ignoring extensions); clear it so a genuinely new
    // session is built, then restore
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val c = s2.sql("SELECT cosine_sim(array(1.0D, 2.0D), array(1.0D, 2.0D))")
        .collect()(0).getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)
    } finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  test("multimodal decodeBatch: mapPartitions pipeline, per-partition codec") {
    val media = Multimodal.asBinaryPayload(
      docsDf((1L, "abc"), (2L, "abc"), (3L, "different")), "doc_id", "text")
      .repartition(2) // exercise >1 partition → >1 codec instance
    val got = Multimodal.decodeBatch(media, featureDim = 4)
    assert(got.columns.toSeq ==
      Seq("doc_id", "byte_len", "width", "height", "format", "features"))
    val rows = got.orderBy("doc_id")
      .as[(Long, Int, Int, Int, String, Seq[Float])].collect()
    assert(rows(0)._2 == 3 && rows(0)._6.length == 4)
    // determinism across partitions/instances: same bytes → same output
    assert(rows(0).copy(_1 = 0L) == rows(1).copy(_1 = 0L))
    assert(rows(0)._6 != rows(2)._6)
  }

  test("multimodal features flow into vector search end-to-end") {
    // the composition a media pipeline runs: binary payloads →
    // per-partition decode+feature-extract → ANN over the features.
    // Searching with doc 1's own feature vector must return doc 1
    // first (self-similarity 1.0) through the SRP shortlist path.
    val media = Multimodal.asBinaryPayload(
      docsDf((1L, "aa"), (2L, "bb"), (3L, "cc")), "doc_id", "text")
    val feats = Multimodal.decodeBatch(media, featureDim = 8)
      .select(col("doc_id").as("vec_id"), col("features").as("embedding"))
    val q = feats.filter(col("vec_id") === 1)
      .select(col("embedding").as("qe"),
        graft.functions.HashFunctions.cosineLshBits(col("embedding"), 16)
          .as("qsketch"))
    val top = graft.operators.Ann
      .srpShortlistKnn(feats, q, "vec_id", "embedding",
        bits = 16, shortlist = 10, k = 1)
      .select("vec_id").as[Long].head()
    assert(top == 1L)
  }
}
