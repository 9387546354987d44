package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins `tools/check.py`'s accounting: every entry of `oracle_sql.json`
  * is compared, and an entry whose query wrote no output — `Verify`
  * logs a throwing query and moves on — counts as a failure instead of
  * being skipped.
  *
  * Hermetic: each case builds its own dump dir (an `oracle_sql.json`
  * plus one parquet per present query, written with pyarrow) in a temp
  * dir and runs the real script against an empty tables dir.
  */
class OracleCheckSpec extends AnyFunSuite {

  private val repoRoot = new java.io.File(sys.props("user.dir"))
  private val script = new java.io.File(repoRoot, "tools/check.py")

  private def run(args: String*): (Int, String) = {
    val pb = new ProcessBuilder(args: _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    (p.waitFor(), out)
  }

  /** A dump dir whose oracle names every query in `oracle` (each one
    * `SELECT 1 AS x`) but which holds output only for `present`. */
  private def dump(oracle: Seq[String], present: Seq[String]): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft_check").toFile
    java.nio.file.Files.write(dir.toPath.resolve("oracle_sql.json"),
      oracle.map(n => s""""$n": "SELECT 1 AS x"""")
        .mkString("{", ", ", "}").getBytes("UTF-8"))
    for (n <- present) {
      val out = new java.io.File(dir, n)
      out.mkdirs()
      val (rc, msg) = run("python3", "-c",
        "import sys, pyarrow as pa, pyarrow.parquet as pq; " +
          "pq.write_table(pa.table({'x': [1]}), sys.argv[1])",
        new java.io.File(out, "part-0.parquet").getAbsolutePath)
      assert(rc === 0, msg)
    }
    dir
  }

  private def check(out: java.io.File): (Int, String) = {
    val tables = java.nio.file.Files.createTempDirectory("graft_check_sf")
    run("python3", script.getAbsolutePath, tables.toString, out.getPath)
  }

  test("an oracle entry whose query wrote no output fails the compare") {
    assume(script.isFile)
    val (rc, out) = check(dump(Seq("q_a", "q_b"), present = Seq("q_a")))
    assert(out.contains("PASS q_a (1 rows)"), out)
    assert(out.contains("FAIL q_b: no spark output"), out)
    assert(out.contains("1 pass, 1 fail, 0 rows-only"), out)
    assert(rc === 1, out)
    // the same entries with both outputs present pass
    val (rc2, out2) = check(dump(Seq("q_a", "q_b"), present = Seq("q_a", "q_b")))
    assert(out2.contains("2 pass, 0 fail, 0 rows-only"), out2)
    assert(rc2 === 0, out2)
  }
}
