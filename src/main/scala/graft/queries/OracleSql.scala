package graft.queries

/** String builders for the DuckDB oracles: one copy of each replay rule
  * that oracles in more than one file spell. A rule only one file's
  * oracles use keeps its helper in that file.
  *
  * Each builder returns SQL at fixed indentation, with no trailing
  * comma or newline, to be interpolated at the start of a line of the
  * caller's `s"""...""".stripMargin` WITH list. A builder reproduces
  * the exact bytes of the text it replaced, so sharing it changed no
  * check.
  *
  * Artifact globs: every [[Artifacts.oracleGlob]] call sits inside a
  * `def` (here, through [[parquet]], or at the call site), evaluated
  * when `SparkEntry.oracleSql` is dumped. The glob resolves to the
  * corpus the artifact last ran for, and Verify dumps the oracles
  * after running the queries. A `val` would freeze the glob to the
  * default sf0.01 directory at object initialisation, before any query
  * ran.
  *
  * This object calls no engine code (the operators, expressions and
  * functions packages, or Spark): a check must never share code with
  * what it checks. `OracleSqlSpec` enforces this both ways.
  */
object OracleSql {

  /** DuckDB's reader over artifact `name`'s files. */
  def parquet(name: String): String =
    s"read_parquet('${Artifacts.oracleGlob(name)}')"

  /** hash60(e): the first 15 hex digits of md5(e) as a BIGINT, the
    * hash every md5-based engine rule buckets by. */
  def hash60(e: String): String =
    s"CAST(concat('0x', substring(md5($e), 1, 15)) AS BIGINT)"

  /** The corpus CTE `v` (vec_id, e): the embeddings of `from` as
    * DOUBLE[]. `from` is `embeddings` or a [[parquet]] artifact. */
  def corpus(from: String): String =
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |      FROM $from)""".stripMargin

  /** [[corpus]] opening a WITH list, its FROM under the SELECT. */
  def withCorpus(from: String): String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |           FROM $from)""".stripMargin

  /** The SRP sketch of vector column `x` as one BIGINT column `out`:
    * bit j (j < `planes`) is set when `x` lies on the positive side of
    * sign plane j, whose component i is +1 when hash60('srp:j:i') is
    * odd and -1 otherwise. */
  def srpSketchCol(planes: Int, x: String, out: String): String =
    s"""  CAST(list_sum(list_transform(range(0, $planes), j ->
       |    CASE WHEN list_sum(list_transform(range(0, len($x)), i ->
       |        $x[CAST(i + 1 AS INT)] *
       |        (CASE WHEN CAST(concat('0x', substring(
       |               md5(concat('srp:', j, ':', i)), 1, 15)) AS BIGINT)
       |              % 2 = 1 THEN 1.0 ELSE -1.0 END))) > 0
       |    THEN CAST(2 ** j AS BIGINT) ELSE 0 END)) AS BIGINT) AS $out""".stripMargin

  /** The `planes`-plane SRP sketch over `embeddings`, opening a WITH
    * list: the corpus `v` and `s` (vec_id, e, sketch). */
  def withSrpSketch(planes: Int): String =
    s"""${withCorpus("embeddings")},
       |s AS (SELECT vec_id, e,
       |${srpSketchCol(planes, "e", "sketch")}
       |  FROM v)""".stripMargin

  /** The SRP sign planes as lists: `jj` (j < `planes`) and `sgm` (j,
    * sv), plane j's ±1 signs over every component of `src`'s `e`, by
    * the same rule as [[srpSketchCol]]. */
  def srpPlanes(planes: Int, src: String): String =
    s"""jj AS (SELECT unnest(range(0, $planes)) AS j),
       |sgm AS (SELECT jj.j,
       |         list(CASE WHEN CAST(concat('0x', substring(
       |                md5(concat('srp:', jj.j, ':', ix.i)), 1, 15))
       |                AS BIGINT)
       |               % 2 = 1 THEN 1.0 ELSE -1.0 END
       |              ORDER BY ix.i) AS sv
       |        FROM jj, (SELECT unnest(range(0,
       |          (SELECT max(len(e)) FROM $src))) AS i) ix
       |        GROUP BY jj.j)""".stripMargin

  /** CTE `name` (`key`, j, dot): vector `x` of each row of `src` dotted
    * with every sign plane j of `jj`, the planes spelled inline by the
    * same rule as [[srpSketchCol]]. Continuation lines align under the
    * opening parenthesis. */
  def srpPlaneDots(name: String, key: String, x: String,
                   src: String): String = {
    val b = " " * (name.length + 7)
    s"""$name AS (SELECT $key, jj.j,
       |${b}list_sum(list_transform(range(0, len($x)), i ->
       |$b  $x[CAST(i + 1 AS INT)] *
       |$b  (CASE WHEN CAST(concat('0x', substring(
       |$b         md5(concat('srp:', jj.j, ':', i)), 1, 15))
       |$b         AS BIGINT)
       |$b        % 2 = 1 THEN 1.0 ELSE -1.0 END))) AS dot
       |${" " * (name.length + 5)}FROM $src, jj)""".stripMargin
  }

  /** CTE `name` (`key`, `col`): the sign bits of the per-plane dots in
    * `from` (`key`, j, dot) packed into a BIGINT, bit j set when plane
    * j's dot is positive. */
  def signBits(name: String, col: String, from: String,
               key: String = "vec_id"): String =
    s"""$name AS (SELECT $key,
       |         CAST(sum(CASE WHEN dot > 0 THEN CAST(2 ** j AS BIGINT)
       |                       ELSE 0 END) AS BIGINT) AS $col
       |       FROM $from GROUP BY $key)""".stripMargin

  /** `ranked`: each query's rows of `from` (query_id, vec_id, score)
    * numbered by score descending, ties to the smaller vec_id. */
  def rankedPerQuery(from: String): String =
    s"""ranked AS (
       |  SELECT query_id, vec_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, vec_id) AS rank
       |  FROM $from)""".stripMargin
}
