package graft

import java.nio.file.Files
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import graft.streaming.{IncrementalStream, MetricEvent, TrailingWindow}

/** The Structured-Streaming incremental loop: drop slice files into a
  * directory (the reference's S3 polling), run AvailableNow, check the
  * latest-wins state table; then append a later slice and re-run — the
  * checkpoint must skip already-imported files (the reference's
  * parquet_import_tracking semantics).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("incremental slices merge into latest-wins state; checkpoint resumes") {
    val base = Files.createTempDirectory("graft-stream").toFile.getAbsolutePath
    val in = s"$base/incoming"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()

    val slice1 = Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("k", "ts", "v")
    val slice2 = Seq((1L, 20L, "a2"), (3L, 5L, "c")).toDF("k", "ts", "v")
    slice1.coalesce(1).write.parquet(s"$in/slice1")
    slice2.coalesce(1).write.parquet(s"$in/slice2")

    val q = IncrementalStream.run(
      spark, s"$in/*", slice1, Seq("k"), Seq("ts"), state, ckpt)
    assert(q.awaitTermination(120000), "first run did not finish")

    val got = spark.read.parquet(state).orderBy("k")
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 20L, "a2"), (2L, 10L, "b"), (3L, 5L, "c")))

    // late slice with an older ts for k=1 (must lose) and a new key
    Seq((1L, 15L, "stale"), (4L, 1L, "d")).toDF("k", "ts", "v")
      .coalesce(1).write.parquet(s"$in/slice3")
    val q2 = IncrementalStream.run(
      spark, s"$in/*", slice1, Seq("k"), Seq("ts"), state, ckpt)
    assert(q2.awaitTermination(120000), "resumed run did not finish")

    val got2 = spark.read.parquet(state).orderBy("k")
      .as[(Long, Long, String)].collect().toSeq
    assert(got2 == Seq((1L, 20L, "a2"), (2L, 10L, "b"), (3L, 5L, "c"), (4L, 1L, "d")))
  }

  test("state swap recovers when a crash landed between the two renames") {
    val base = Files.createTempDirectory("graft-stream-crash").toFile.getAbsolutePath
    val in = s"$base/incoming"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()

    Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("k", "ts", "v")
      .coalesce(1).write.parquet(s"$in/slice1")
    assert(IncrementalStream.run(spark, s"$in/*", Seq((0L, 0L, "")).toDF("k", "ts", "v"),
      Seq("k"), Seq("ts"), state, ckpt).awaitTermination(120000), "first run did not finish")

    // simulate the torn swap: current renamed aside, replacement never landed
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(state), new org.apache.hadoop.fs.Path(state + "_prev")))

    Seq((3L, 5L, "c")).toDF("k", "ts", "v").coalesce(1).write.parquet(s"$in/slice2")
    assert(IncrementalStream.run(spark, s"$in/*", Seq((0L, 0L, "")).toDF("k", "ts", "v"),
      Seq("k"), Seq("ts"), state, ckpt).awaitTermination(120000), "recovering run did not finish")

    // pre-crash state recovered AND the new slice merged
    val got = spark.read.parquet(state).orderBy("k")
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 10L, "a"), (2L, 10L, "b"), (3L, 5L, "c")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state + "_prev")))
  }

  test("a warm tail window compiles no generated class and stays latest-wins") {
    // each stream start clones the session; a merge on the clone would
    // recompile every generated class of the merge on every window
    val base = Files.createTempDirectory("graft-stream-codegen").toFile.getAbsolutePath
    val in = s"$base/incoming"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    val sample = Seq((0L, 0L, "")).toDF("k", "ts", "v")
    /** Lands one slice, runs one window; returns the window's compile ns. */
    def window(name: String, rows: Seq[(Long, Long, String)]): Long = {
      rows.toDF("k", "ts", "v").coalesce(1).write.parquet(s"$in/$name")
      val before = CodeGenerator.compileTime
      assert(IncrementalStream.run(spark, s"$in/*", sample, Seq("k"), Seq("ts"), state, ckpt)
        .awaitTermination(120000), s"window $name did not finish")
      CodeGenerator.compileTime - before
    }

    window("slice1", Seq((1L, 10L, "a"), (2L, 10L, "b"))) // no state yet
    window("slice2", Seq((1L, 20L, "a2"), (3L, 5L, "c"))) // warm: state + batch
    val compileNs = window("slice3", Seq((1L, 15L, "stale"), (2L, 30L, "b3")))
    assert(compileNs == 0L,
      s"a warm window spent ${compileNs / 1e6} ms compiling generated classes")

    val got = spark.read.parquet(state).orderBy("k")
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 20L, "a2"), (2L, 30L, "b3"), (3L, 5L, "c")))
  }

  test("trailing-24h metrics: streaming equals batch q44 on the same slice") {
    // the real sf0.001 event slice, staged as an events.parquet table so the
    // REGISTERED batch query (not a re-derivation) is the reference result
    val base = Files.createTempDirectory("graft-q44-stream").toFile.getAbsolutePath
    val slice = Tables.events(spark, "/root/testdata/sf0.001")
      .where(col("user_id") < 40)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    slice.write.parquet(s"$base/events.parquet")
    val batch = SparkEntry.queries("q44_rolling_metrics")(spark, base)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(batch.nonEmpty)

    val rows = Tables.events(spark, base)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
      .collect()
      .map(r => MetricEvent(r.getLong(0), r.getLong(1),
        new java.sql.Timestamp(r.getLong(2) / 1000L), r.getLong(2), r.getDouble(3)))
      .sortBy(e => (e.ts_us, e.event_id))
    // three micro-batches split at DISTINCT ts boundaries (a RANGE tie split
    // across batches is the documented append-mode non-goal)
    def cut(at: Int): Int = {
      var i = at
      while (i < rows.length && rows(i).ts_us == rows(at - 1).ts_us) i += 1
      i
    }
    val c1 = cut(rows.length / 3); val c2 = cut(2 * rows.length / 3)

    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[MetricEvent]
    val out = TrailingWindow.metrics(in.toDS().withWatermark("ts", "0 seconds"))
    val q = out.writeStream.format("memory").queryName("graft_q44")
      .outputMode("append").start()
    try {
      in.addData(rows.take(c1).toIndexedSeq); q.processAllAvailable()
      in.addData(rows.slice(c1, c2).toIndexedSeq); q.processAllAvailable()
      in.addData(rows.drop(c2).toIndexedSeq); q.processAllAvailable()
      val streamed = spark.table("graft_q44")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSet
      assert(streamed == batch,
        s"streaming != batch: only-stream=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
      // the split points force frames that reach back across micro-batches —
      // the state-store path, not just in-batch arithmetic
      assert(rows.take(c1).map(_.ts_us).max + TrailingWindow.DayUs >= rows(c1).ts_us ||
        batch.exists(_._4 > 1), "slice must exercise cross-batch frames")
    } finally q.stop()
  }

  test("windowed counts with watermark produce event-time aggregates") {
    // batch-mode check of the streaming aggregation shape
    val ev = Seq(
      ("2024-01-01 00:00:10", "click", 1.0),
      ("2024-01-01 00:00:50", "click", 2.0),
      ("2024-01-01 00:01:10", "click", 3.0)
    ).toDF("t", "event_type", "value")
      .withColumn("t", col("t").cast("timestamp"))
    val out = IncrementalStream.windowedCounts(ev, "t", "event_type", "1 minute", "10 seconds")
      .select(col("window.start").cast("string").as("ws"), col("n"), col("sum_value"))
      .orderBy("ws")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq(
      ("2024-01-01 00:00:00", 2L, 3.0),
      ("2024-01-01 00:01:00", 1L, 3.0)))
  }

  test("streaming KMV sketch: every emitted estimate equals the batch prefix aggregate") {
    import graft.streaming.{SketchInput, StreamingSketch}
    import graft.expressions.KmvSketch
    val k = 32
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => SketchInput(r.getString(0), KmvSketch.mix(r.getLong(1))))
      .toIndexedSeq
    val cuts = Seq(rows.length / 3, 2 * rows.length / 3, rows.length)
    // expected emission for a prefix: per key (est, n_state) from the BATCH
    // aggregate — the prefix-parity contract
    def expected(n: Int): Set[(String, Long, Long)] =
      rows.take(n).toDF("key", "h")
        .groupBy(col("key"))
        .agg(KmvSketch.kmvDistinct(col("h"), k).as("kmv"), countDistinct(col("h")).as("nd"))
        .select(col("key"), col("kmv.est"), col("nd"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), math.min(k.toLong, r.getLong(2)))).toSet

    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SketchInput]
    val q = StreamingSketch.distinctEstimates(in.toDS(), k)
      .writeStream.format("memory").queryName("graft_kmv_stream")
      .outputMode("append").start()
    try {
      var prev = 0
      var cumulative = Set.empty[(String, Long, Long)]
      cuts.foreach { c =>
        in.addData(rows.slice(prev, c)); q.processAllAvailable()
        cumulative = cumulative ++ expected(c)
        val emitted = spark.table("graft_kmv_stream").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(emitted == cumulative,
          s"prefix $c: only-stream=${(emitted -- cumulative).take(3)} only-batch=${(cumulative -- emitted).take(3)}")
        prev = c
      }
      // sketch state stays O(k): the final n_state never exceeds k even
      // though sf0.001 has fewer users than that would require at scale
      assert(spark.table("graft_kmv_stream").agg(max("n_state")).head().getLong(0) <= k)
    } finally q.stop()
  }

  test("streaming top-k: the list after each batch equals the batch window over the prefix") {
    import graft.streaming.{StreamingSketch, TopKInput}
    val k = 5
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value")).collect()
      .map(r => TopKInput(r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100.0)))
      .toIndexedSeq
    val cuts = Seq(rows.length / 3, 2 * rows.length / 3, rows.length)
    def expected(n: Int): Set[(String, Long, Long, Long)] =
      rows.take(n).groupBy(_.key).flatMap { case (key, es) =>
        es.sortBy(e => (-e.score, e.id)).take(k).zipWithIndex.map { case (e, i) =>
          (key, (i + 1).toLong, e.id, e.score)
        }
      }.toSet

    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TopKInput]
    val q = StreamingSketch.topKPerKey(in.toDS(), k)
      .writeStream.format("memory").queryName("graft_topk_stream")
      .outputMode("append").start()
    try {
      var prev = 0
      var cumulative = Set.empty[(String, Long, Long, Long)]
      cuts.foreach { c =>
        in.addData(rows.slice(prev, c)); q.processAllAvailable()
        cumulative = cumulative ++ expected(c)
        val emitted = spark.table("graft_topk_stream").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(emitted == cumulative,
          s"prefix $c: only-stream=${(emitted -- cumulative).take(3)} only-batch=${(cumulative -- emitted).take(3)}")
        prev = c
      }
    } finally q.stop()
  }

  test("streaming top-k: a re-scored id replaces its entry instead of holding two ranks") {
    import graft.streaming.{StreamingSketch, TopKInput}
    // id 10 is re-sent across batches with a higher score: the leaderboard
    // must hold per-id MAX scores (one rank per id), i.e. the batch
    // row_number() <= k over groupBy(id).max(score) of the whole prefix
    val b1 = Seq(TopKInput("t", 10L, 100L), TopKInput("t", 11L, 90L), TopKInput("t", 12L, 80L))
    val b2 = Seq(TopKInput("t", 10L, 150L), TopKInput("t", 13L, 95L))
    def expected(batches: Seq[Seq[TopKInput]]): Set[(String, Long, Long, Long)] =
      batches.flatten.groupBy(_.id).map { case (id, es) => (id, es.map(_.score).max) }
        .toSeq.sortBy { case (id, sc) => (-sc, id) }.take(3).zipWithIndex
        .map { case ((id, sc), i) => ("t", (i + 1).toLong, id, sc) }.toSet

    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TopKInput]
    val q = StreamingSketch.topKPerKey(in.toDS(), 3)
      .writeStream.format("memory").queryName("graft_topk_rescore")
      .outputMode("append").start()
    try {
      var cumulative = Set.empty[(String, Long, Long, Long)]
      Seq(Seq(b1), Seq(b1, b2)).foreach { prefix =>
        in.addData(prefix.last); q.processAllAvailable()
        cumulative = cumulative ++ expected(prefix)
        val emitted = spark.table("graft_topk_rescore").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(emitted == cumulative,
          s"re-score parity: only-stream=${emitted -- cumulative} only-batch=${cumulative -- emitted}")
      }
      // id 10 appears exactly once in the final emission set at score 150
      val finalRows = spark.table("graft_topk_rescore").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(finalRows.count { case (_, id, sc) => id == 10L && sc == 150L } == 1)
    } finally q.stop()
  }

  test("streaming near-dup gate: prefix parity with batch banding, horizon exact, no double emission") {
    import graft.streaming.{SimDocEvent, StreamingDedup}
    val horizonMs = 10000L
    val sigA = 0x123456789ABCDEF0L
    val sigB = 0x0F1E2D3C4B5A6978L
    // base offset keeps every event above the initial zero watermark (a
    // ts-0 event sits AT the boundary and is dropped as late)
    def ev(id: Long, tMs: Long, sig: Long) =
      SimDocEvent(id, new java.sql.Timestamp(86400000L + tMs), sig)
    val b1 = Seq(ev(1, 0L, sigA), ev(2, 4000L, sigA ^ 7L)) // h=3, in horizon
    val b2 = Seq(ev(3, 20000L, sigA ^ 1L), ev(4, 21000L, sigA)) // (3,4) h=1; (1,3)/(1,4)/(2,3)/(2,4) beyond horizon
    val b3 = Seq(ev(5, 22000L, sigB), ev(6, 23000L, sigB ^ (1L << 63)),
      ev(7, 24000L, sigB)) // (5,7) h=0 matches in ALL four bands: must emit once
    val batches = Seq(b1, b2, b3)
    def expected(prefix: Seq[SimDocEvent]): Set[(Long, Long, Int)] =
      (for {
        a <- prefix; b <- prefix
        if a.doc_id < b.doc_id &&
          math.abs(a.ts.getTime - b.ts.getTime) <= horizonMs
        h = java.lang.Long.bitCount(a.sig ^ b.sig) if h <= 3
      } yield (a.doc_id, b.doc_id, h)).toSet

    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SimDocEvent]
    val q = StreamingDedup.nearDupPairsWithinHorizon(
      in.toDS().withWatermark("ts", "0 seconds"), horizonMs)
      .writeStream.format("memory").queryName("graft_neardup_stream")
      .outputMode("append").start()
    try {
      var fed = Seq.empty[SimDocEvent]
      batches.foreach { b =>
        in.addData(b); q.processAllAvailable()
        fed = fed ++ b
        val rows = spark.table("graft_neardup_stream").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        // exactly-once: no pair may be emitted from two buckets
        assert(rows.length == rows.toSet.size, s"duplicate emissions: ${rows.toSeq}")
        assert(rows.toSet == expected(fed),
          s"prefix parity: only-stream=${rows.toSet -- expected(fed)} " +
            s"only-batch=${expected(fed) -- rows.toSet}")
      }
      // the beyond-horizon near-dup (1,3) at hamming 1 must NOT appear
      assert(!spark.table("graft_neardup_stream").collect()
        .exists(r => r.getLong(0) == 1L && r.getLong(1) == 3L))
    } finally q.stop()
  }

  test("streaming near-dup gate: an out-of-order but on-time doc still pairs (watermark-based pruning)") {
    import graft.streaming.{SimDocEvent, StreamingDedup}
    // Pruning must follow the WATERMARK, not the bucket's newest member:
    // doc 2 arrives 2× the horizon after doc 1 (newest-member pruning would
    // evict doc 1), then doc 3 arrives OUT OF ORDER — older than doc 2 but
    // still >= the watermark (15 s delay) and within the horizon of doc 1.
    // The contract says only docs arriving after the watermark passed the
    // horizon may miss pairs, so (1,3) MUST be emitted.
    val horizonMs = 5000L
    val sigA = 0x123456789ABCDEF0L
    def ev(id: Long, tMs: Long, sig: Long) =
      SimDocEvent(id, new java.sql.Timestamp(86400000L + tMs), sig)
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SimDocEvent]
    val q = StreamingDedup.nearDupPairsWithinHorizon(
      in.toDS().withWatermark("ts", "15 seconds"), horizonMs)
      .writeStream.format("memory").queryName("graft_neardup_ooo")
      .outputMode("append").start()
    try {
      in.addData(Seq(ev(1, 20000L, sigA))); q.processAllAvailable()
      in.addData(Seq(ev(2, 30000L, sigA))); q.processAllAvailable() // wm -> 15000
      in.addData(Seq(ev(3, 24000L, sigA ^ 1L))); q.processAllAvailable() // on-time (>= wm), in horizon of doc 1
      val rows = spark.table("graft_neardup_ooo").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // (1,2) and (2,3) are beyond the horizon; (1,3) is the contract case
      assert(rows == Set((1L, 3L, 1)),
        s"watermark-pruning contract: got $rows, want exactly (1,3,h=1)")
    } finally q.stop()
  }

  test("streaming quantile sketch: prefix parity with the batch aggregate") {
    import graft.streaming.{QuantileInput, StreamingSketch}
    import graft.expressions.KmvSketch
    val k = 32
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value")).collect()
      .map(r => QuantileInput(r.getString(0), KmvSketch.mix(r.getLong(1)),
        math.round(r.getDouble(2) * 100.0)))
      .toIndexedSeq
    val cuts = Seq(rows.length / 2, rows.length)
    def expected(n: Int): Set[(String, Long, Long, Long)] =
      rows.take(n).toDF("key", "h", "v")
        .groupBy(col("key"))
        .agg(KmvSketch.quantileSketch(col("h"), col("v"), k).as("qs"))
        .select(col("key"), col("qs.n_sample"), col("qs.p50"), col("qs.p90"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[QuantileInput]
    val q = StreamingSketch.quantileEstimates(in.toDS(), k)
      .writeStream.format("memory").queryName("graft_qs_stream")
      .outputMode("append").start()
    try {
      var prev = 0
      var cumulative = Set.empty[(String, Long, Long, Long)]
      cuts.foreach { c =>
        in.addData(rows.slice(prev, c)); q.processAllAvailable()
        cumulative = cumulative ++ expected(c)
        val emitted = spark.table("graft_qs_stream").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(emitted == cumulative,
          s"prefix $c: only-stream=${(emitted -- cumulative).take(3)} only-batch=${(cumulative -- emitted).take(3)}")
        prev = c
      }
    } finally q.stop()
  }
}
