package graft

import graft.plans.BroadcastAudit

/** Decade-2 spot probe for the static-broadcast built-size bound (VERDICT
  * r12/r13 task 3): PlanSpec's 64 MB dataSize assertion runs at spec SF
  * only, where an inflation regression in the static file estimate is
  * invisible (<~8× inflation hides inside the threshold). This main runs
  * the banded-plan family at a REAL scale directory (the bench chain wires
  * it at sf10), reads the executed BroadcastExchange dataSize of every
  * broadcast each plan actually built, and prints ONE JSON line for the
  * sf10 artifact. Exit 3 if ANY static-estimate broadcast crosses the
  * alarm bytes — array-carrying or not, since a broadcast planned above
  * an explode outputs the scalar exploded elements — or if an
  * ARRAY-CARRYING static broadcast sits over an unmaterialized explode
  * (the decade-2 hard-fail class PlanSpec pins; the scalar
  * static-over-explode sides, like s02/s05's contract-bounded query
  * vectors, are by-design and bounded by the bytes alarm instead).
  * Runtime/AQE-sized broadcasts are sized from real bytes and cannot
  * misestimate — reported but never alarmed ON SIZE. One probe invariant
  * outranks that scoping (ADVICE r14, fail-closed): a MISSING dataSize
  * metric breaches on EVERY reading, runtime-sized included — a probe
  * that cannot read the built bytes cannot bound anything, and a Spark
  * upgrade silently dropping the metric must fail the chain loudly, not
  * degrade the guard to reported-only.
  *
  * Usage: runMain graft.BroadcastProbe <sfDir> [queriesCsv]
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE_PARTITIONS,
  *      GRAFT_BROADCAST_ALARM_BYTES — default 1280 MiB, the design's own
  *      envelope with 25% headroom: a static-estimate broadcast is only
  *      POSSIBLE while the file estimate sits under the 64 MB threshold,
  *      and the documented worst inflation of these plans is the ~15×
  *      tokenShingleHashes expansion, so the accepted window tops out near
  *      16 × 64 MB ≈ 1 GiB no matter the SF (measured instance: d08's
  *      corpus-sets side builds ~260 MB at sf10 under a 59 MB file
  *      estimate, then the estimate crosses the threshold and the planner
  *      shuffles — BENCH_SF10_BROADCAST.json). A breach therefore means
  *      the inflation factor itself regressed or a hint landed on a side
  *      that grows with the corpus (the r12 d09 class) — not the window.
  */
object BroadcastProbe {

  /** The banded family PlanSpec guards — the plans whose shape puts an
    * array column next to a broadcast decision. */
  val banded: Seq[String] = Seq(
    "d02_dedup_minhash", "d03_dedup_simhash", "d04_ngram_jaccard",
    "d08_dedup_incremental", "d09_embed_delta", "m07_frame_neardup",
    "s02_ann_lsh", "s05_range_search")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args(1).split(',').toSeq.filter(_.nonEmpty) else banded
    val alarmBytes = sys.env.getOrElse("GRAFT_BROADCAST_ALARM_BYTES",
      (1280L * 1024 * 1024).toString).toLong
    // Bench's engine: with the default 10 MB threshold the mid-size dims
    // stop broadcasting and every banded plan degrades to fact-side
    // sort-merge joins (measured: the sf10 probe run OOM-killed the host
    // on tmpfs shuffle volume the bench never writes)
    val spark = SparkEntry.session()

    var breaches = List.empty[String]
    val perQuery = names.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      BroadcastAudit.execute(df) // the df's OWN execution: AQE settles, metrics fill
      val rs = BroadcastAudit.readings(df)
      rs.foreach { r =>
        // the BUILT-size alarm applies to EVERY static-estimate broadcast,
        // array-carrying or not — a broadcast planned ABOVE an explode
        // outputs the scalar exploded elements (the array is consumed), so
        // an array-only scope would exempt exactly the inflated class the
        // probe exists to bound. The built bytes are the ground truth
        // regardless of column shape.
        if (!r.runtimeSized && r.builtBytes >= alarmBytes)
          breaches ::= s"$name: static-estimate broadcast built ${r.builtBytes} bytes >= alarm $alarmBytes"
        if (r.builtBytes < 0L)
          breaches ::= s"$name: broadcast dataSize metric missing — cannot bound the built side"
        // the explode-below hard-fail keeps PlanSpec's array-carrying scope:
        // the banded designs' CONTRACT-BOUNDED sides (s02/s05's query-vector
        // explode, ~67 MB at sf10) are static-over-explode BY DESIGN and
        // bounded by the bytes alarm above; an array-carrying one has no
        // such contract and fails outright at any size.
        if (!r.runtimeSized && r.carriesArray && r.inflatedBelow)
          breaches ::= s"$name: static-estimate broadcast over an unmaterialized explode"
      }
      val rows = rs.map(r =>
        s"""{"built_bytes":${r.builtBytes},"runtime_sized":${r.runtimeSized},""" +
          s""""inflated_below":${r.inflatedBelow},"carries_array":${r.carriesArray}}""")
        .mkString("[", ",", "]")
      // per-query partial line the moment the plan's metrics are read: at
      // big SF a later query in the list can exceed the host (the gen_scale
      // replica geometry makes pair outputs quadratic in density), and an
      // all-or-nothing final line would lose every completed reading with it
      println(s"""{"metric":"broadcast_built_bytes_partial","sf":"$sfDir","query":"$name","readings":$rows}""")
      s""""$name":$rows"""
    }
    spark.stop()
    val breachJson = breaches.map(b => "\"" + b.replace("\"", "'") + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"broadcast_built_bytes","sf":"$sfDir","alarm_bytes":$alarmBytes,""" +
      s""""queries":{${perQuery.mkString(",")}},"breaches":$breachJson}""")
    if (breaches.nonEmpty) {
      breaches.foreach(b => System.err.println(s"[broadcast-probe] BREACH $b"))
      sys.exit(3)
    }
  }
}
