package graft

/** The demo HTTP facade end-to-end on a loopback port: route parity
  * with the reference service (add / count / load / search / documents
  * / UI), JSON escaping both directions, and the reference's error
  * shapes (400 on missing content/query, 500 on a failed request).
  */
class ServerSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private var server: Server = _
  private var base: String = _
  private val client = java.net.http.HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    super.beforeAll()
    val store = java.nio.file.Files
      .createTempDirectory("graft_server").toString + "/store"
    server = new Server(
      new Engine(spark, store, dim = 32, chunkSize = 40, overlap = 10))
      .start()
    base = s"http://127.0.0.1:${server.boundPort}"
  }

  override def afterAll(): Unit = {
    try server.stop()
    finally super.afterAll()
  }

  private def get(path: String): (Int, String) = {
    val r = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(base + path)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(path: String, body: String): (Int, String) = {
    val r = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(base + path))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("the reference request cycle: add, re-add, count, search, docs") {
    assert(get("/count-documents") == (200, """{"count":0}"""))
    assert(post("/add", """{"content":"john likes tea"}""") ==
      (200, """{"message":"Document added."}"""))
    // INSERT OR IGNORE surfaced like the reference (server.js:116)
    assert(post("/add", """{"content":"john likes tea"}""") ==
      (200, """{"message":"Document already exists."}"""))
    assert(post("/add", """{"content":"quoted \"text\"\nsecond line"}""")
      ._2.contains("added"))
    assert(get("/count-documents") == (200, """{"count":2}"""))
    val (sc, sb) = post("/search", """{"query":"john likes tea","k":2}""")
    assert(sc == 200)
    assert(sb.contains(""""query":"john likes tea""""))
    assert(sb.contains(""""answer":""") && sb.contains("john likes tea"))
    assert(sb.contains(""""doc_id":"""))
    // JSON round-trip of the escaped document through /documents.
    // The newline in the ADDED text became a space: chunk content is
    // whitespace-token-joined by the chunker (engine contract) — the
    // quotes still require correct JSON escaping on the way out.
    val (dc, db) = get("/documents")
    assert(dc == 200)
    assert(db.contains("""quoted \"text\" second line"""))
    assert(db.startsWith("[") && db.endsWith("]"))
  }

  test("the reference error shapes: 400 on missing content/query") {
    assert(post("/add", """{}""") ==
      (400, """{"error":"Content is required"}"""))
    assert(post("/search", """{"k":3}""") ==
      (400, """{"error":"Query is required"}"""))
    assert(get("/load-documents")._1 == 400)
  }

  test("a failure without a message still answers 500 with a JSON " +
      "error body") {
    // a network embedder can fail with a bare EOFException: no message
    val failing = new Embedder {
      override def embed(df: org.apache.spark.sql.DataFrame,
                         textCol: String, dim: Int)
          : org.apache.spark.sql.DataFrame =
        throw new IllegalStateException()
    }
    val store = java.nio.file.Files
      .createTempDirectory("graft_server_fail").toString + "/store"
    val broken = new Server(new Engine(spark, store, dim = 32,
      embedder = failing)).start()
    try {
      val r = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:${broken.boundPort}/search"))
          .POST(java.net.http.HttpRequest.BodyPublishers
            .ofString("""{"query":"tea"}"""))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert((r.statusCode(), r.body()) ==
        (500, """{"error":"java.lang.IllegalStateException"}"""))
    } finally broken.stop()
  }

  test("the UI page serves; unknown routes 404") {
    val (uc, ub) = get("/")
    assert(uc == 200 && ub.contains("graft engine"))
    assert(get("/no-such-route")._1 == 404)
  }

  test("load-documents ingests a directory through the same dedup path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_load")
    java.nio.file.Files.write(dir.resolve("a.txt"),
      "completely novel corpus text".getBytes("UTF-8"))
    val (lc, lb) = get("/load-documents?dir=" +
      java.net.URLEncoder.encode(dir.toString, "UTF-8"))
    assert(lc == 200 && lb == """{"loaded":1}""")
    // idempotent: the second load dedups away (INSERT OR IGNORE)
    assert(get("/load-documents?dir=" +
      java.net.URLEncoder.encode(dir.toString, "UTF-8"))._2 ==
      """{"loaded":0}""")
  }
}
