package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * $SPARK_GRAFT_SF_DIR, prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Protocol fixes vs round 1 (VERDICT items 2-3):
  *   - full materialization via queryExecution.toRdd.count() — count()
  *     lets Catalyst prune every expression a row-count doesn't need,
  *     under-measuring the real work; toRdd.count() produces every
  *     output row of the final physical plan;
  *   - one warm-up pass (JVM/codegen/parquet-footer caches) before the
  *     timed pass, mirroring the reference's warm-cache protocol
  *     (reference: README.md:206-213);
  *   - failures are NOT swallowed into timings: a failed query reports
  *     -1 and the process exits non-zero, so a regression can't
  *     masquerade as a fast run.
  */
object Bench {

  /** The number of timed passes, `SPARK_GRAFT_PASSES` (default 2); a
    * malformed or non-positive value fails naming the variable before
    * the session starts, not at the per-query minimum after the suite.
    */
  private[graft] def timedPasses(env: Map[String, String] = sys.env): Int = {
    val n = GraftConf.envInt("SPARK_GRAFT_PASSES", 2, env)
    require(n >= 1, s"SPARK_GRAFT_PASSES = $n (expected at least 1)")
    n
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftConf.envInt("SPARK_GRAFT_CPUS", 4)
    val passes = timedPasses()
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def materialize(name: String): Either[Throwable, Unit] =
      try { SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count(); Right(()) }
      catch { case e: Throwable => Left(e) }

    // free localCheckpoint blocks (persisted RDDs) between queries:
    // left to the ContextCleaner they pile up in the block manager
    // across 2×N query runs and degrade the whole JVM (measured
    // 30.8s → 116s across one bench run before this). Runs OUTSIDE the
    // timed region so cleanup cost isn't attributed to the query —
    // which is why the unpersist must BLOCK (r18 measurement fix):
    // async removal of a fat checkpoint set kept churning INSIDE the
    // NEXT entry's timed slot (measured on the 8 dedup entries run
    // back-to-back: 29.8s async vs 18.7s blocking, identical code).
    // SPARK_GRAFT_ASYNC_UNPERSIST=1 reproduces the old timing boundary.
    def freeCheckpoints(): Unit = {
      val blocking = !sys.env.contains("SPARK_GRAFT_ASYNC_UNPERSIST")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking))
    }

    // SPARK_GRAFT_ONLY=q1,q2 restricts the run — iteration tooling;
    // the recorded protocol is always the full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // warm-up pass (untimed) — failures are logged, not discarded: a
    // query broken in warm-up will fail the timed passes too, and the
    // earliest report makes the log readable
    names.foreach { n =>
      materialize(n).left.foreach(e =>
        System.err.println(s"[bench] $n FAILED in warm-up: ${e.getMessage}"))
      freeCheckpoints()
    }
    // drive ContextCleaner once before timing starts (see periodicGC note)
    System.gc()

    // Multiple timed passes, per-query MIN — the reference's protocol
    // is 1 warm-up + 30 timed iterations (README.md:206-213); a single
    // pass here is exposed to multi-second host-noise episodes that
    // wander across the 57-query run (observed: the same query 4s or
    // 30s warm depending on the run, with per-query DuckDB work <1s).
    // Min-of-N is the standard warm-cache estimator for that noise.
    var failed = List.empty[String]
    val timings = (1 to passes).map { p =>
      if (p > 1) System.gc() // reclaim between passes, outside any timing
      names.map { name =>
        val t0 = System.nanoTime()
        val ok = materialize(name) match {
          case Right(_) => true
          case Left(e) =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            failed ::= name
            false
        }
        val sec = (System.nanoTime() - t0) / 1e9
        freeCheckpoints()
        name -> (if (ok) sec else -1.0)
      }.toMap
    }
    val results = names.map { n =>
      val ts = timings.map(_(n))
      n -> (if (ts.contains(-1.0)) -1.0 else ts.min)
    }
    // Environment canary (VERDICT r11 item 3): the driver/solo gap
    // jumped 1.04x -> 1.75x in one round with no plan regression — a
    // contention band, not code. Re-time ONE fixed cheap query now
    // (after the whole suite ran) and report it next to its in-suite
    // first-pass time: canary_last/canary_first >> 1 inside a run, or
    // canary_first >> the solo record across runs, measures the
    // environment inside every bench line instead of leaving the gap
    // to be inferred from totals. Untimed region; failures degrade to
    // -1 rather than failing the bench.
    val canaryName = "q1_lineitem_agg"
    val canaryFirst = timings.head.getOrElse(canaryName, -1.0)
    val canaryLast = if (!names.contains(canaryName)) -1.0 else {
      val t0 = System.nanoTime()
      materialize(canaryName) match {
        case Right(_) => (System.nanoTime() - t0) / 1e9
        case Left(_) => -1.0
      }
    }
    // Heavy-entry provenance (VERDICT r13 item 7): the driver/solo gap
    // can swing individual entries ±40% while the suite band stays
    // calm, so one driver-vs-solo outlier (u35 in r13) can't be
    // adjudicated from a single reading. Re-time the 3 HEAVIEST
    // entries once more at suite end: an entry whose retime returns to
    // its typical cost was host noise during its in-suite slot; one
    // that stays high is a real plan/fixture regression. Untimed
    // region; failures degrade to -1 rather than failing the bench.
    val retimed = results.filter(_._2 >= 0).sortBy(-_._2).take(3).map {
      case (n, _) =>
        val t0 = System.nanoTime()
        val sec = materialize(n) match {
          case Right(_) => (System.nanoTime() - t0) / 1e9
          case Left(_) => -1.0
        }
        freeCheckpoints()
        n -> sec
    }
    val retimedJson = retimed
      .map { case (n, sec) => "\"" + n + "\":" + sec }.mkString("{", ",", "}")
    // Detail entries CHEAPEST-FIRST so the heaviest queries sit at the
    // END of the line: the driver's bounded tail capture (~2000 chars)
    // keeps the line's tail, and the informative half for regression
    // diffs is the expensive head of the suite, not the alphabetical
    // tail (r6 recorded only 64/128 queries and hid the heavy family).
    val qs = results.sortBy { case (_, v) => if (v < 0) Double.MaxValue else v }
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // Two lines, detail FIRST and a compact total LAST: the driver's
    // tail capture is ~2000 chars, so the ~2.5 KB per-query line gets
    // truncated mid-object if it is the final line (BENCH_r01-r04 all
    // recorded "parsed": null for exactly this reason). The short final
    // line always fits; the detail line above it remains grep-able.
    println(s"""{"metric":"detail","unit":"sec","queries":$qs,"sf":"$sfDir","n":${results.size}}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","canary":"$canaryName","canary_first":$canaryFirst,"canary_last":$canaryLast,"retimed":$retimedJson}""")
    // diagnostics to STDERR (never the parsed stdout lines): how many
    // codegen units were COMPILED over the whole run — compilations far
    // above the distinct-unit count mean the codegen cache
    // (spark.sql.codegen.cache.maxEntries) is evicting and the tail of
    // the suite is re-compiling, the late-suite churn measured in r19
    System.err.println(
      s"[bench] codegen compilations: " +
        s"${org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount}, " +
        s"generated class bytes: " +
        s"${org.apache.spark.metrics.source.CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount} classes / " +
        s"${org.apache.spark.metrics.source.CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getSnapshot.getValues.map(_.toLong).sum} B (sampled)")
    spark.stop()
    val distinctFailed = failed.distinct.sorted
    if (distinctFailed.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${distinctFailed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
