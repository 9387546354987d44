package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.QueryPack

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module QueryPacks; each pack entry is one operator
  * from SURVEY.md §2 (or a training-data-pipeline extension) with a
  * DuckDB oracle where SQL-expressible.
  */
object SparkEntry {

  private def packs: Seq[QueryPack] = Seq(
    graft.analytics.AnalyticsQueries,
    graft.operators.JoinQueries,
    graft.operators.WindowQueries,
    graft.operators.RelationalQueries,
    graft.textops.TextQueries,
    graft.warehouse.WarehouseQueries,
    graft.stream.StreamQueries,
    graft.lake.LakeQueries,
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** Oracle queries whose multi-referenced CTEs get a `MATERIALIZED`
    * hint ([[materializeMultiRefCtes]]). DuckDB (1.0) INLINES every
    * CTE reference — the minhash oracles' `band` CTE is referenced by
    * 16 band expansions and the pair join, so the whole
    * shingle→hash→signature pipeline re-derives up to 20× per query;
    * at sf0.1 that made the three near-dedup store-step twins the
    * replay's longest pole. The hint is replay-side only (the Spark
    * plans are untouched) and value-neutral by construction — same
    * engine, same SQL semantics — verified bit-equal per entry at
    * sf0.01 before whitelisting. A whitelist rather than a blanket
    * because materialization can also LOSE (it blocks predicate
    * pushdown into the CTE): q_t_boilerplate measured 1.4× SLOWER
    * materialized, so only measured wins are listed.
    */
  private val MaterializeOracles: Set[String] = Set(
    "q_s_neardedup_step",
    "q_s_neardedup_segmented_step", "q_s_neardedup_segmented_bounded_step",
    "q_s_neardedup_segmented_bounded_skew_step",
    "q_t_minhash_lsh", "q_t_edit_verify", "q_t_simhash",
    "q_t_dedup_clusters", "q_t_cluster_split", "q_t_curate_best",
    "q_t_curriculum", "q_t_repsub")

  /** Add `MATERIALIZED` to every CTE of `sql` that is referenced at
    * least twice (word-boundary count over the original text, minus
    * the definition itself). Purely a DuckDB execution hint: the
    * planner computes the CTE once instead of inlining a copy per
    * reference.
    *
    * Rewrite discipline (r18, was an ADVICE trap): definition sites
    * are located POSITIONALLY — word-boundary `name AS (` matches
    * outside any named-`WINDOW` clause span (the spans are parsed out
    * with a balanced-paren scan first, so a multi-window clause's
    * `, w2 AS (` or a CTE sharing a window's name can never be
    * hinted), and the hint is inserted at those exact offsets rather
    * than via substring replace (which also rewrote CTEs whose name
    * is a suffix of another, e.g. `h` inside `ch`). A final require
    * proves the rewrite was insertion-only: stripping the inserted
    * token must reproduce the input byte-for-byte.
    */
  private[graft] def materializeMultiRefCtes(sql: String): String = {
    // 1. mask named-WINDOW clause spans: WINDOW w AS (...) [, w2 AS (...)]*
    //    (balanced-paren scan, quote-aware — parens inside '...' don't count)
    def closeParen(from: Int): Int = {
      var i = from; var depth = 0; var inStr = false
      while (i < sql.length) {
        val c = sql.charAt(i)
        if (inStr) { if (c == '\'') inStr = false }
        else c match {
          case '\'' => inStr = true
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) return i
          case _ =>
        }
        i += 1
      }
      sql.length - 1
    }
    // `\s+\(` (not `\s*`): a zero-space `name AS(` site is SKIPPED, not
    // hinted — inserting at its `(` would glue `ASMATERIALIZED (`, which
    // the insertion-only check below cannot catch (stripping the token
    // reproduces the input either way). A skipped hint is merely a
    // missed optimization; a glued one is invalid SQL.
    val defSite = """\b(\w+)\s+AS\s+\(""".r
    val windowSpans = """\bWINDOW\s+""".r.findAllMatchIn(sql).map { w =>
      // consume `name AS (...)` entries separated by commas
      var end = w.end
      var more = true
      while (more) {
        defSite.findPrefixMatchOf(sql.substring(end)) match {
          case Some(m) =>
            end = closeParen(end + m.end - 1) + 1
            val comma = """\s*,\s*""".r.findPrefixMatchOf(sql.substring(end))
            more = comma.isDefined &&
              defSite.findPrefixMatchOf(
                sql.substring(end + comma.get.end)).isDefined
            if (more) end += comma.get.end
          case None => more = false
        }
      }
      (w.start, end)
    }.toSeq
    def masked(pos: Int): Boolean =
      windowSpans.exists { case (s, e) => pos >= s && pos < e }
    // string-literal spans ('' is the SQL escape — two adjacent quotes
    // read as one literal quote, i.e. the string simply continues):
    // a CTE name occurring inside a literal is text, not a reference
    val stringSpans: Seq[(Int, Int)] = {
      val spans = Seq.newBuilder[(Int, Int)]
      var i = 0
      while (i < sql.length) {
        if (sql.charAt(i) == '\'') {
          val start = i; i += 1
          var open = true
          while (open && i < sql.length) {
            if (sql.charAt(i) == '\'') {
              if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') i += 2
              else { open = false; i += 1 }
            } else i += 1
          }
          spans += ((start, i))
        } else i += 1
      }
      spans.result()
    }
    def inString(pos: Int): Boolean =
      stringSpans.exists { case (s, e) => pos >= s && pos < e }
    // 2. CTE definition sites = word-boundary matches outside those spans
    val defs = defSite.findAllMatchIn(sql)
      .filterNot(m => masked(m.start) || inString(m.start)).toSeq
    // 3. hint the definitions whose name has >= 2 further references —
    //    counted ONLY at positions outside WINDOW spans and string
    //    literals (r19, was an ADVICE trap: a single-referenced CTE
    //    sharing a window's name, or named inside a literal, would
    //    otherwise collect spurious counts and get hinted against the
    //    measured-win-only policy)
    val insertAt = defs.filter { m =>
      val refs = ("\\b" + java.util.regex.Pattern.quote(m.group(1)) + "\\b").r
        .findAllMatchIn(sql)
        .count(r => !masked(r.start) && !inString(r.start)) - 1
      refs >= 2
    }.map(m => m.end - 1) // offset of the definition's `(`
    val out = insertAt.sorted.reverse
      .foldLeft(sql)((acc, i) => acc.substring(0, i) + "MATERIALIZED " + acc.substring(i))
    // 4. insertion-only proof: the hint must be the ONLY difference
    require(out.replace("MATERIALIZED ", "") == sql.replace("MATERIALIZED ", ""),
      "materializeMultiRefCtes produced a non-insertion rewrite")
    out
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracle).toMap.map { case (k, v) =>
      k -> (if (MaterializeOracles(k)) materializeMultiRefCtes(v) else v)
    }

  /** The bench surface: every oracled query plus the bench-only twins
    * (production-hash sketch variants) — what `graft.Bench` times.
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    queries ++ packs.flatMap(_.benchOnly)
}
