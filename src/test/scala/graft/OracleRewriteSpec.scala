package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[SparkEntry.materializeMultiRefCtes]] — the replay-side DuckDB
  * `MATERIALIZED` hinting — against the rewrite traps the r17 ADVICE
  * named: a CTE whose name is a suffix of another (substring replace
  * rewrote both), a second named window in a multi-window clause (the
  * lookbehind only shielded the token directly after WINDOW), and a CTE
  * sharing a window's name. The rewrite is positional since r18 and
  * self-checks insertion-only; these cases keep it that way.
  */
class OracleRewriteSpec extends AnyFunSuite {

  private def rw(sql: String): String = SparkEntry.materializeMultiRefCtes(sql)
  private def hints(s: String): Int = "AS MATERIALIZED \\(".r.findAllIn(s).size

  test("multi-referenced CTE is hinted; single-referenced is not") {
    val sql = "WITH a AS (SELECT 1 AS x), b AS (SELECT x FROM a) " +
      "SELECT * FROM b JOIN b USING (x)"
    val out = rw(sql)
    assert(out.contains("b AS MATERIALIZED ("))
    assert(!out.contains("a AS MATERIALIZED ("), "a is referenced once")
    assert(hints(out) === 1)
  }

  test("a CTE whose name is a suffix of another is never rewritten through the longer name") {
    // h is multi-referenced (twice inside ch) and must be hinted; ch is
    // referenced once and must NOT be — the old substring replace of
    // "h AS (" also matched inside "ch AS (" and hinted both
    val sql = "WITH h AS (SELECT 1 AS x), ch AS (SELECT a.x FROM h a " +
      "JOIN h b USING (x)) SELECT * FROM ch"
    val out = rw(sql)
    assert(out.contains("WITH h AS MATERIALIZED ("))
    assert(!out.contains("ch AS MATERIALIZED ("))
    assert(hints(out) === 1)
  }

  test("every definition in a multi-window WINDOW clause is shielded, not just the first") {
    val sql = "WITH a AS (SELECT 1 AS x, 2 AS y) " +
      "SELECT sum(x) OVER w AS sx, sum(y) OVER w2 AS sy " +
      "FROM a JOIN a USING (x) WINDOW w AS (ORDER BY x), w2 AS (ORDER BY y)"
    val out = rw(sql)
    assert(out.contains("a AS MATERIALIZED ("))
    assert(!out.contains("w AS MATERIALIZED ("), "window defs are not CTEs")
    assert(!out.contains("w2 AS MATERIALIZED ("))
    assert(hints(out) === 1)
  }

  test("a CTE sharing a window's name is hinted at the CTE definition only") {
    val sql = "WITH w AS (SELECT 1 AS x) " +
      "SELECT sum(x) OVER w AS s FROM w JOIN w USING (x) " +
      "WINDOW w AS (ORDER BY x)"
    val out = rw(sql)
    assert(hints(out) === 1)
    // the one hint sits BEFORE the WINDOW clause — at the CTE definition
    assert(out.indexOf("w AS MATERIALIZED (") < out.indexOf("WINDOW"))
    assert(!out.substring(out.indexOf("WINDOW")).contains("MATERIALIZED"))
  }

  test("a zero-space `name AS(` definition is skipped, never glued into ASMATERIALIZED") {
    val sql = "WITH a AS(SELECT 1 AS x) SELECT * FROM a JOIN a USING (x)"
    val out = rw(sql)
    assert(out === sql, "no hint is the safe outcome for a zero-space site")
    assert(!out.contains("ASMATERIALIZED"))
  }

  test("quoted parens inside a window clause do not derail the span scan") {
    val sql = "WITH a AS (SELECT 1 AS x) " +
      "SELECT first_value(concat(x, '(lit)')) OVER w AS s " +
      "FROM a JOIN a USING (x) WINDOW w AS (ORDER BY x)"
    val out = rw(sql)
    assert(out.contains("a AS MATERIALIZED ("))
    assert(hints(out) === 1)
  }

  test("references inside a WINDOW span never inflate a CTE's count") {
    // r19 (was an ADVICE trap): `w` the CTE is referenced ONCE; the
    // window clause defines a window also named `w`, which the
    // whole-text count mistook for a second reference and hinted
    // against the measured-win-only policy
    val sql = "WITH w AS (SELECT 1 AS x) " +
      "SELECT sum(x) OVER v AS s FROM w " +
      "WINDOW v AS (ORDER BY x), w AS (ORDER BY x DESC)"
    val out = rw(sql)
    assert(out === sql, "a single-referenced CTE must stay unhinted " +
      "even when a window shares its name")
  }

  test("a CTE name inside a string literal is text, not a reference") {
    // `a` is referenced once; the literal mentions `a` twice — with ''
    // escapes, to pin the literal scanner's escape handling too
    val sql = "WITH a AS (SELECT 'a isn''t a ref' AS x) SELECT x FROM a"
    val out = rw(sql)
    assert(out === sql, "literal mentions must not inflate the count")
    // and a genuinely multi-referenced CTE still hints with literals around
    val sql2 = "WITH a AS (SELECT 'a and a and a' AS x) " +
      "SELECT * FROM a JOIN a USING (x)"
    assert(hints(rw(sql2)) === 1)
  }

  test("the shipped whitelist really lands hints, and nothing outside it carries any") {
    val oracles = SparkEntry.oracleSql // computing this runs the
    // insertion-only require over every whitelisted query
    val whitelist = Set(
      "q_s_neardedup_step",
      "q_s_neardedup_segmented_step", "q_s_neardedup_segmented_bounded_step",
      "q_s_neardedup_segmented_bounded_skew_step",
      "q_t_minhash_lsh", "q_t_edit_verify", "q_t_simhash",
      "q_t_dedup_clusters", "q_t_cluster_split", "q_t_curate_best",
      "q_t_curriculum", "q_t_repsub")
    // every whitelisted entry must still land at least one hint — a
    // whitelist name that stops matching is drift, not a no-op
    for (n <- whitelist) assert(hints(oracles(n)) >= 1, s"$n lost its hint")
    val hinted = oracles.filter(_._2.contains("MATERIALIZED")).keySet
    assert(hinted === whitelist,
      "only measured-win queries may carry MATERIALIZED hints")
  }
}
