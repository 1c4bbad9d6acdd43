package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Pins the benchmark's output schema: every metric name and its unit, and
  * that BENCHMARK.json declares exactly what the runs print. */
class SchemaSpec extends AnyFunSuite {

  test("end-to-end metrics: names and units") {
    assert(Metrics.endToEnd == Seq(
      "setup_s" -> "s", "peak_rss_mb" -> "MB", "success_rate" -> "ratio",
      "op_p50_ms" -> "ms", "op_p90_ms" -> "ms", "suite_s" -> "s", "items_per_s" -> "items/s"))
  }

  test("workload metrics: names and units") {
    assert(Metrics.workload == Seq(
      "error_rate" -> "ratio",
      "sync.catchup_rows_per_s" -> "rows/s", "sync.window_p50_ms" -> "ms", "sync.window_p90_ms" -> "ms",
      "dedup.text_docs_per_s" -> "items/s", "dedup.embed_vecs_per_s" -> "items/s",
      "queries.suite_s" -> "s", "queries.p50_ms" -> "ms", "queries.p90_ms" -> "ms"))
  }

  test("per-layer metrics: every layer's names and units") {
    val expected = Seq(
      "sources.discover_ms" -> "ms", "sources.files_listed" -> "count",
      "sources.files_planned" -> "count", "sources.scan_rows" -> "rows", "sources.scan_bytes" -> "bytes",
      "merge.ms" -> "ms", "merge.rows_in" -> "rows", "merge.keys_out" -> "rows",
      "merge.shuffle_write_bytes" -> "bytes",
      "stream.start_ms" -> "ms", "stream.planning_ms" -> "ms", "stream.add_batch_ms" -> "ms",
      "stream.wal_commit_ms" -> "ms", "stream.state_bytes_written" -> "bytes",
      "stream.state_rows_rewritten_per_input_row" -> "ratio",
      "dedup.pairs_ms" -> "ms", "dedup.pairs_out" -> "rows", "dedup.pairs_kept_ratio" -> "ratio",
      "dedup.cc_ms" -> "ms", "dedup.cc_jobs" -> "count", "dedup.embed_pairs_ms" -> "ms",
      "dedup.semantic_ms" -> "ms",
      "queries.family.q_s" -> "s", "queries.family.d_s" -> "s", "queries.family.s_s" -> "s",
      "queries.family.m_s" -> "s", "queries.family.t_s" -> "s",
      "queries.q.s03_ms" -> "ms", "queries.q.s10_ms" -> "ms", "queries.q.s12_ms" -> "ms",
      "queries.q.d07_ms" -> "ms", "queries.q.d13_ms" -> "ms",
      "queries.q.t12_ms" -> "ms", "queries.q.q52_ms" -> "ms",
      "engine.jobs_per_op" -> "count", "engine.stages_per_op" -> "count",
      "engine.tasks_per_op" -> "count", "engine.planning_ms" -> "ms",
      "engine.codegen_compile_ms" -> "ms", "engine.task_busy_s" -> "s", "engine.task_cpu_s" -> "s",
      "engine.core_util" -> "ratio", "engine.skew_max_median" -> "ratio",
      "engine.shuffle_read_bytes" -> "bytes", "engine.shuffle_write_bytes" -> "bytes",
      "engine.spill_bytes" -> "bytes", "engine.gc_ms" -> "ms", "engine.tasks_failed" -> "count")
    assert(Metrics.layers == expected)
    assert(Metrics.overhead == Metrics.endToEnd.map { case (n, u) => s"trace_overhead.$n" -> u })
    assert(Metrics.perLayer == Metrics.workload ++ expected ++ Metrics.overhead)
  }

  test("names are unique and fit the result-line limits") {
    val all = (Metrics.endToEnd ++ Metrics.perLayer).map(_._1)
    assert(all.distinct.length == all.length)
    all.foreach(n => assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), n))
    Metrics.units.values.foreach(u => assert(u.matches("[A-Za-z0-9_/%.-]{1,16}"), u))
    assert(Metrics.perLayer.length <= 128)
  }

  test("BENCHMARK.json declares exactly the printed metrics") {
    val root = new ObjectMapper().readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))
    def decl(key: String): Seq[(String, String)] =
      root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(decl("end_to_end") == Metrics.endToEnd)
    assert(decl("per_layer") == Metrics.perLayer)
    assert(root.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Seq("sync", "batch"))
  }

  test("query digest ignores row order and last-bit float noise") {
    val a = Array(Row(1L, 0.1 + 0.2, "x"), Row(2L, null, Seq(1.0f, 2.0f)))
    val b = Array(Row(2L, null, Seq(1.0f, 2.0f)), Row(1L, 0.3, "x"))
    assert(QueriesWorkload.digest(a) == QueriesWorkload.digest(b))
    assert(QueriesWorkload.digest(a) != QueriesWorkload.digest(a.take(1)))
  }
}
