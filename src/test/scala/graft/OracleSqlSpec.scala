package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The oracle dump's shape and the oracle builders' isolation, without
  * DuckDB. Oracles are chains of `queries.OracleSql` builders, and a
  * prefix-parameterised builder used twice repeats a CTE name; DuckDB
  * would reject that only in selfcheck's replay half. A check must
  * never share code with what it checks, so the builders and the
  * engine must not reach each other.
  */
class OracleSqlSpec extends AnyFunSuite {

  private val TopLevelCte =
    "(?m)^(?:WITH )?([a-zA-Z][a-zA-Z0-9_]*) AS (?:MATERIALIZED )?\\(".r

  test("every oracle names each top-level CTE once") {
    val repeated = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) =>
        val ctes = TopLevelCte.findAllMatchIn(sql).map(_.group(1)).toSeq
        ctes.diff(ctes.distinct).distinct.map(cte => s"$name: $cte")
    }
    assert(repeated.isEmpty, repeated.mkString("\n"))
  }

  private val Main = Paths.get("src/main/scala/graft")

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  test("OracleSql reaches no engine code") {
    val src = Files.readString(Main.resolve("queries/OracleSql.scala"))
    val engine = Seq("graft.operators", "graft.expressions",
      "graft.functions", "org.apache.spark")
    assert(engine.filter(src.contains).isEmpty)
  }

  test("no engine code reaches OracleSql") {
    val engine =
      Seq("operators", "expressions", "functions", "sources", "streaming")
        .flatMap(d => scalaFiles(Main.resolve(d))) ++
        Seq(Main.resolve("Engine.scala"), Main.resolve("Server.scala"))
    val offenders =
      engine.filter(f => Files.readString(f).contains("OracleSql"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
