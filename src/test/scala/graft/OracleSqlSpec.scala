package graft

import org.scalatest.funsuite.AnyFunSuite

/** The oracle map's own contract, read from the SQL text with no Spark
  * session. scripts/check.py walks the oracle keys, so a query without
  * an oracle would drop out of its N/N unnoticed. And DuckDB 1.0 inlines
  * a CTE at each reference: in the simhash-graph oracles an unmarked
  * CTE that is read several times re-runs the pair miner per read,
  * which outgrew DuckDB's memory on the delta PageRank rows. */
class OracleSqlSpec extends AnyFunSuite {

  private val SimhashFamily = Seq(
    "sample_folds_safe", "doc_contrastive_pairs", "dedup_simhash_pairs",
    "dedup_canonical", "graph_common_neighbors", "graph_components",
    "graph_components_delta", "graph_components_delete", "graph_bfs",
    "graph_kcore", "graph_pagerank", "graph_pagerank_delta",
    "graph_pagerank_delta_rand", "graph_pagerank_delete", "graph_ppr",
    "graph_ppr_delta", "graph_ppr_delete")

  private val CteHead =
    """(?:WITH(?:\s+RECURSIVE)?|,)\s*(\w+)\s+AS\s+(MATERIALIZED\s+)?\(""".r

  /** Each top-level CTE of sql: (name, materialized, reads), where reads
    * counts the FROM/JOIN references outside the CTE's own body (a
    * recursive CTE's self reference is not a read). */
  private def ctes(sql: String): Seq[(String, Boolean, Int)] = {
    // paren depth before each offset, skipping quoted literals
    val depth = new Array[Int](sql.length + 1)
    var d = 0
    var quoted = false
    for (i <- sql.indices) {
      depth(i) = d
      sql(i) match {
        case '\'' => quoted = !quoted
        case '(' if !quoted => d += 1
        case ')' if !quoted => d -= 1
        case _ =>
      }
    }
    depth(sql.length) = d
    val heads = CteHead.findAllMatchIn(sql).filter(m => depth(m.start) == 0).toSeq
    heads.map { m =>
      val open = m.end - 1
      val close = (open + 1 until sql.length)
        .find(i => sql(i) == ')' && depth(i) == depth(open) + 1).get
      val name = m.group(1)
      val reads = s"""(?i:FROM|JOIN)\\s+$name\\b""".r.findAllMatchIn(sql)
        .count(r => r.start < open || r.start > close)
      (name, m.group(2) != null, reads)
    }
  }

  private def unmarkedRereads(sql: String): Seq[String] =
    ctes(sql).collect { case (n, false, r) if r > 1 => s"$n read $r times" }

  test("every query has an oracle and every oracle a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"queries without an oracle: ${(q -- o).toSeq.sorted}; " +
      s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("simhash-graph oracles MATERIALIZE every CTE they read more than once") {
    // the reader itself: an unmarked double read is caught, a marked one
    // or a recursive self reference is not
    assert(unmarkedRereads(
      "WITH x AS (SELECT 1 AS v), y AS (SELECT v FROM x) " +
        "SELECT * FROM x JOIN y USING (v)") == Seq("x read 2 times"))
    assert(unmarkedRereads(
      "WITH RECURSIVE x AS MATERIALIZED (SELECT 1 AS v), " +
        "r AS (SELECT v FROM x UNION SELECT v + 1 FROM r WHERE v < 3) " +
        "SELECT * FROM x JOIN r USING (v)").isEmpty)
    val oracles = SparkEntry.oracleSql
    val bad = SimhashFamily.flatMap { name =>
      val sql = oracles(name)
      // every row mines its pairs into ed0, so a parse that misses it
      // is a parse that checks nothing
      val parsed = ctes(sql).exists { case (n, _, r) => n == "ed0" && r >= 1 }
      (if (parsed) Nil else Seq(s"$name: no ed0 read found")) ++
        unmarkedRereads(sql).map(u => s"$name: $u")
    }
    if (bad.nonEmpty) fail(bad.mkString("\n"))
  }
}
