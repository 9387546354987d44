package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins `tools/foldbench.py`'s floor-staleness surface (r19):
  *
  *  - `--age` — the standing report `tools/roundcheck.sh` emits every
  *    gate run — prints the spec'd shape: a `floor-age: session N, M
  *    committed entries` header, then either the stale list (count
  *    line + one `stale: <name> (age S, floor F s)` line per entry,
  *    oldest first) or the all-clear line;
  *  - a PARTIAL `--apply` (runs covering < 90% of the committed map)
  *    folds its mins but does NOT advance the session clock — the
  *    docstring contract (was an r18 ADVICE trap: silent skip while
  *    the docstring promised "every --apply increments").
  *
  * Hermetic: each case materializes its own BENCH_QUERIES.json /
  * BENCH_FLOOR_AGE.json in a temp dir and runs the real script there.
  */
class FloorAgeSpec extends AnyFunSuite {

  private val repoRoot = new java.io.File(sys.props("user.dir"))
  private val script = new java.io.File(repoRoot, "tools/foldbench.py")

  private def run(dir: java.io.File, args: String*): (Int, String) = {
    val pb = new ProcessBuilder(
      (Seq("python3", script.getAbsolutePath) ++ args): _*)
    pb.directory(dir)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    (p.waitFor(), out)
  }

  private def fixture(mapQueries: Map[String, Double], session: Int,
                      lastReproduced: Map[String, Int]): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft_floorage")
      .toFile
    def js(m: Map[String, _]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }
        .mkString("{", ", ", "}")
    java.nio.file.Files.write(dir.toPath.resolve("BENCH_QUERIES.json"),
      (s"""{"metric": "quiet_min_map", "sf": "/root/testdata/sf0.1", """ +
        s""""queries": ${js(mapQueries)}, """ +
        s""""value": ${mapQueries.values.sum}}""").getBytes("UTF-8"))
    java.nio.file.Files.write(dir.toPath.resolve("BENCH_FLOOR_AGE.json"),
      (s"""{"session": $session, """ +
        s""""last_reproduced": ${js(lastReproduced)}}""").getBytes("UTF-8"))
    dir
  }

  test("--age prints the pinned header + stale lines, oldest first") {
    assume(script.isFile)
    val dir = fixture(
      Map("q_fresh" -> 1.0, "q_old" -> 2.5, "q_never" -> 0.4),
      session = 5,
      lastReproduced = Map("q_fresh" -> 5, "q_old" -> 2))
    val (rc, out) = run(dir, "--age")
    assert(rc === 0, out)
    val lines = out.trim.split("\n").toSeq
    assert(lines.head === "floor-age: session 5, 3 committed entries")
    assert(lines(1) ===
      "STALE floors (no reproduction in >= 3 stamped sessions): 2")
    // q_never (age 5) outranks q_old (age 3); floors echo the map
    assert(lines(2) === "stale: q_never (age 5, floor 0.4 s)")
    assert(lines(3) === "stale: q_old (age 3, floor 2.5 s)")
  }

  test("--age prints the all-clear line when nothing is stale") {
    assume(script.isFile)
    val dir = fixture(Map("q_a" -> 1.0, "q_b" -> 2.0), session = 4,
      lastReproduced = Map("q_a" -> 4, "q_b" -> 2))
    val (rc, out) = run(dir, "--age")
    assert(rc === 0, out)
    val lines = out.trim.split("\n").toSeq
    assert(lines.head === "floor-age: session 4, 2 committed entries")
    assert(lines(1) === "no stale floors (all reproduced within 3 sessions)")
  }

  test("a partial --apply folds mins but never advances the session clock") {
    assume(script.isFile)
    val dir = fixture(Map("q_a" -> 1.0, "q_b" -> 2.0, "q_c" -> 3.0),
      session = 7, lastReproduced = Map("q_a" -> 7, "q_b" -> 7, "q_c" -> 7))
    // a filtered iteration log: 1 of 3 entries (< 90% coverage)
    java.nio.file.Files.write(dir.toPath.resolve("partial.json"),
      ("""{"queries": {"q_a": 0.8}, """ +
        """"sf": "/root/testdata/sf0.1"}""").getBytes("UTF-8"))
    val (rc, out) = run(dir, "--apply", "partial.json")
    assert(rc === 0, out)
    assert(out.contains("NOT stamping"), out)
    val mp = new String(java.nio.file.Files.readAllBytes(
      dir.toPath.resolve("BENCH_QUERIES.json")), "UTF-8")
    assert(mp.contains("\"q_a\": 0.8") || mp.contains("\"q_a\":0.8"),
      s"the min must still fold: $mp")
    val age = new String(java.nio.file.Files.readAllBytes(
      dir.toPath.resolve("BENCH_FLOOR_AGE.json")), "UTF-8")
    assert(age.contains("\"session\": 7") || age.contains("\"session\":7"),
      s"a partial apply must not advance the session clock: $age")
  }

  test("--apply refuses a failed cell, even when another run timed it") {
    assume(script.isFile)
    val dir = fixture(Map("q_a" -> 1.0, "q_b" -> 2.0), session = 3,
      lastReproduced = Map("q_a" -> 3, "q_b" -> 3))
    // two graft.Bench stdout logs: q_b threw in the first and finished
    // fast in the second; q_a finished in both
    def log(name: String, queries: String, failed: String): Unit =
      java.nio.file.Files.write(dir.toPath.resolve(name),
        s"""{"metric":"queries_part","part":1,"queries":$queries,"failed":$failed}\n"""
          .getBytes("UTF-8"))
    log("run1.log", """{"q_a":0.9}""", """["q_b"]""")
    log("run2.log", """{"q_a":0.95,"q_b":0.5}""", "[]")
    val (rc, out) = run(dir, "--apply", "run1.log", "run2.log")
    assert(rc === 0, out)
    assert(out.contains("refused (failed in a run): 1 — q_b"), out)
    val mp = new String(java.nio.file.Files.readAllBytes(
      dir.toPath.resolve("BENCH_QUERIES.json")), "UTF-8")
    assert(mp.contains("\"q_a\": 0.9"), s"the timed cell folds: $mp")
    assert(mp.contains("\"q_b\": 2.0"), s"the failed cell must not fold: $mp")
  }
}
