package graft

/** Keep-dominated-regime probe for the production-k SemDeDup pair
  * (d14 stand-in quantizer vs d15 Lloyd-trained): the cell-local prune's
  * cost model is two-sided — REMOVED vectors short-circuit at their first
  * lower-id match (the left-semi rewrite), KEPT vectors must probe their
  * whole cell to prove no match exists, so prune work ≈ Σ_kept |cell| and
  * its worst case is Σ|cell|². The bench corpus is replica-dense (~98%
  * removed at eps 0.35 by sf10+), which hides quantizer imbalance almost
  * entirely: d14's sf100 magnet cell (1.23M of 2M vectors under lowest-id
  * init) costs nearly nothing there because its members are duplicates
  * that exit at probe one. A 100 TB curation corpus is the OPPOSITE
  * regime — most documents survive — so this probe grades the quantizers
  * where kept vectors dominate: eps above any attainable cosine (2.0)
  * makes EVERY vector a kept vector and the prune cost exactly the
  * cell-size profile the quantizer produced.
  *
  * Prints one JSON line with per-variant wall seconds (min over passes).
  * Exit 0 always — this is an instrument, not a gate; readings land in
  * the round's BENCH notes.
  *
  * Variants: `d14` / `d15` / `d15r2` (lloydRounds = 2 — the VERDICT r15
  * item-5 knee question) time the full operator; `cells_d14` /
  * `cells_d15` / `cells_d15r2` grade the QUANTIZER alone — Σ|cell|²
  * (the prune's worst-case pair volume), max|cell| and n off the
  * assignment stage, never paying the prune — and land in a separate
  * `cells` map in the JSON line.
  *
  * `split_d14` / `split_d15` / `split_d15r2` (r17, VERDICT r16 item 5)
  * time the two phases SEPARATELY — assignment wall (quantizer train +
  * assign, materialized via eager localCheckpoint) vs prune wall
  * (cell-local left-semi over the materialized assignment) — and land in
  * a `split` map. This is the instrument for d15's parked Θ(N^1.5)
  * residual: its N·2√k assignment only deserves the log-depth descent
  * (the r14 negative result) if a decade measurement shows
  * assign_wall, not prune_wall, dominating at production k — a number
  * in the artifact, not a judgment call. The recorded (assign_wall,
  * prune_wall) come from ONE pass (the tA+tP minimizer), so their sum is
  * a real observed wall; assign_min/prune_min carry the per-phase minima
  * separately (ADVICE r17).
  *
  * Usage: runMain graft.DedupRegimeProbe <sfDir> [eps] [passes] [variantsCsv]
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE_PARTITIONS
  */
object DedupRegimeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val eps = if (args.length > 1) args(1).toDouble else 2.0
    val passes = if (args.length > 2) args(2).toInt else 3
    val variants =
      if (args.length > 3) args(3).split(',').toSeq else Seq("d14", "d15")
    val spark = SparkEntry.session()
    val emb = Tables.embeddings(spark, sfDir)
    def run(variant: String): Unit = variant match {
      case "d14" => operators.Dedup
        .semanticDedupScaled(emb, "vec_id", "embedding", eps = eps)
        .write.format("noop").mode("overwrite").save()
      case "d15" => operators.Dedup
        .semanticDedupLloyd(emb, "vec_id", "embedding", eps = eps)
        .write.format("noop").mode("overwrite").save()
      case "d15r2" => operators.Dedup
        .semanticDedupLloyd(emb, "vec_id", "embedding", eps = eps, lloydRounds = 2)
        .write.format("noop").mode("overwrite").save()
      case other => sys.error(s"unknown variant '$other' (d14|d15|d15r2|cells_*)")
    }
    def assignment(variant: String) = variant.split('_').drop(1).mkString("_") match {
      case "d14" => operators.Dedup.scaledAssignment(emb, "vec_id", "embedding")
      case "d15" => operators.Dedup.lloydAssignment(emb, "vec_id", "embedding")
      case "d15r2" =>
        operators.Dedup.lloydAssignment(emb, "vec_id", "embedding", lloydRounds = 2)
      case other => sys.error(s"unknown assignment variant '$variant'")
    }
    val (cellVariants, rest) = variants.partition(_.startsWith("cells_"))
    val (splitVariants, wallVariants) = rest.partition(_.startsWith("split_"))
    val mins = wallVariants.map { v =>
      val ts = (1 to passes).map { p =>
        val t0 = System.nanoTime()
        run(v)
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[regime-probe] pass$p $v $dt%.2fs")
        dt
      }
      v -> ts.min
    }
    val cells = cellVariants.map { v =>
      // the shared, spec-pinned stats kernel (Dedup.cellStats): Σ|cell|²
      // in decimal(38,0) — the instrument must not wrap at any N
      val (sumsq, mx, n, kUsed) = operators.Dedup.cellStats(assignment(v))
      System.err.println(s"[regime-probe] $v sumsq=$sumsq max=$mx n=$n cells_used=$kUsed")
      v -> ((sumsq, mx, n, kUsed))
    }
    // the two-phase wall split (VERDICT r16 item 5): assignment is
    // materialized by the SAME eager localCheckpoint the operator itself
    // uses (semanticDedupFromAssign re-checkpoints a checkpointed plan for
    // one cheap cached pass), so assign_wall + prune_wall decomposes the
    // full-operator wall, it doesn't re-model it. The RECORDED pair is the
    // single pass minimizing tA+tP (ADVICE r17: independent per-phase
    // minima can mix passes, breaking the decomposition claim when phase
    // noise is anti-correlated); the per-phase minima ride along as
    // assign_min/prune_min for dispersion reading.
    val splits = splitVariants.map { v =>
      val ts = (1 to passes).map { p =>
        val t0 = System.nanoTime()
        val assign = assignment(v).localCheckpoint(true)
        val tA = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        operators.Dedup.semanticDedupFromAssign(assign, eps)
          .write.format("noop").mode("overwrite").save()
        val tP = (System.nanoTime() - t1) / 1e9
        System.err.println(f"[regime-probe] pass$p $v assign=$tA%.2fs prune=$tP%.2fs")
        // ADVICE r17: semanticDedupFromAssign re-checkpoints internally and
        // that inner checkpoint outlives the pass — unpersist EVERYTHING
        // this pass cached (not just our outer handle), or later passes at
        // sf100 time under inflated memory pressure
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        (tA, tP)
      }
      val best = ts.minBy { case (a, pr) => a + pr }
      v -> ((best, ts.map(_._1).min, ts.map(_._2).min))
    }
    spark.stop()
    val qs = mins.map { case (v, t) => f""""$v":$t%.3f""" }.mkString(",")
    val cs = cells.map { case (v, (sq, mx, n, ku)) =>
      s""""$v":{"sumsq":$sq,"max_cell":$mx,"n":$n,"cells_used":$ku}"""
    }.mkString(",")
    val ss = splits.map { case (v, ((a, pr), aMin, pMin)) =>
      f""""$v":{"assign_wall":$a%.3f,"prune_wall":$pr%.3f,""" +
        f""""assign_min":$aMin%.3f,"prune_min":$pMin%.3f}"""
    }.mkString(",")
    println(s"""{"metric":"dedup_regime_probe","sf":"$sfDir","eps":$eps,""" +
      s""""passes":$passes,"queries":{$qs},"cells":{$cs},"split":{$ss}}""")
  }
}
