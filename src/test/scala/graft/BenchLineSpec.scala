package graft

/** The compact final Bench line's tail-window contract (r19): the driver
  * captures only the LAST 2,000 characters of output, and PERF_r{N}'s
  * per-query comparison needs a complete JSON object with per-query data
  * inside that window. These pins keep the qmed encoding honest: short
  * keys must stay unique (else the mapping to query names is ambiguous),
  * the whole line must stay under the window even with every field
  * populated, and anything that would break either degrades to a
  * `qmed_overflow` marker instead of an oversized line.
  */
class BenchLineSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def line(medians: Seq[(String, Double)], failed: Seq[String] = Nil): String =
    Bench.compactLine(999.999, "/root/testdata/sf0.1", "BENCH_LOCAL.json", Some(1.543),
      medians, failed)

  test("headline short keys (prefix before first underscore) are unique") {
    val pref = Bench.headline.map(_.takeWhile(_ != '_'))
    val dup = pref.groupBy(identity).filter(_._2.length > 1).keys.toSeq
    assert(dup.isEmpty, s"colliding short keys: $dup — qmed would degrade to qmed_overflow")
  }

  test("simulated compact line fits the 2,000-char driver tail with margin") {
    // worst realistic shape: every median printed with three digits before
    // the point (999.99) — far above any observed sf0.1 per-query median
    val l = line(Bench.headline.map(_ -> 999.99), failed = Seq("q01_latest_wins"))
    assert(l.contains("\"qmed\":{\"q01\":999.99,"), l.take(300))
    // leaves ≥100 chars of headroom for sbt's trailing [success] line
    assert(l.length <= 1900, s"compact line ${l.length} chars — tail window overflow risk")
  }

  test("compact line degrades to a qmed_overflow marker on key collision or length") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def overflowed(l: String): Unit = {
      val root = mapper.readTree(l) // still one complete JSON object
      assert(root.get("qmed") == null && root.get("qmed_overflow").asText == "BENCH_LOCAL.json", l)
      assert(l.length <= 1900, s"${l.length} chars")
    }
    // q01_a / q01_b share the short key q01: qmed would be ambiguous
    overflowed(line(Seq("q01_a" -> 1.0, "q01_b" -> 2.0)))
    // a failing query collides with a timed one just the same
    overflowed(line(Seq("q01_a" -> 1.0), failed = Seq("q01_b")))
    // sf≥1 medians past 1000 s push all 129 entries over the tail budget
    overflowed(line(Bench.headline.map(_ -> 99999.99)))
  }
}
