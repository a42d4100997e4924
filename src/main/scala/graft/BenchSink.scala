package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Isolated reproduction of [[Bench]]'s streaming semantic-dedup sink
  * telemetry (the q101g loop) — the BenchOne-style drill-down for
  * vet_sec, built for the round-17 adjudication of the r15→r16
  * per-batch vet-time jump (VERDICT r16 item 1).
  *
  * Runs the EXACT Bench sink section (same seed split, same served
  * centroid index, same 3-file staging) in a fresh JVM, preceded by the
  * q12 control for normalization, in one of two modes:
  *
  *  - `plain`  — the sink with nothing else in the JVM: the sink's own
  *    cost, free of session interleave;
  *  - `memo`   — first force the bench's memoized graph builds exactly
  *    as the r16 bench interleave does (q151d's winnowed edges pin
  *    localCheckpoint blocks for the rest of the JVM), then run the
  *    identical sink: the delta vs `plain` is the interleave cost.
  *
  * `reps` repetitions of the sink section (drop + rebuild the kept
  * table each time) print per-rep batch stats, so steady-state cost is
  * separable from first-run codegen/footer effects.
  *
  * Usage: runMain graft.BenchSink [plain|memo] [reps=3]
  */
object BenchSink {
  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "plain"
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def forceQ(name: String): Double = time {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    // control: warm-up + min of 3, the Bench normalization anchor
    forceQ("q12_fact_join")
    val control = (1 to 3).map(_ => forceQ("q12_fact_join")).min

    if (mode == "memo") {
      // the r16 bench interleave: q151d materializes the memoized
      // winnowed edge relation (localCheckpoint, pinned for the JVM)
      val t = forceQ("q151d_triangle_census_winnowed")
      System.err.println(f"[bench-sink] memo build (q151d): $t%.3f s")
    }

    val e = graft.core.Tables.load(spark, sfDir, "embeddings")
    val seed = e.filter(col("vec_id") % 5 =!= 0)
    val inc = e.filter(col("vec_id") % 5 === 0)
    val cents = graft.ops.Similarity.servedCentroids(
      spark, e, "embedding", "vec_id", k = 8, iters = 2,
      table = "default.semdedup_centroids").localCheckpoint(true)
    val keptSeed = seed.join(
      graft.ops.Dedup.semanticDedupBlocked(seed, "embedding", "vec_id",
        0.45, cents, probes = 2)
        .filter(col("kept")).select(col("id")),
      seed("vec_id") === col("id"))
      .select(seed.columns.map(seed(_)).toIndexedSeq: _*)
      .localCheckpoint(true)
    val table = "default.semdedup_corpus_benchsink"
    val perRep = (1 to reps).map { rep =>
      spark.sql(s"DROP TABLE IF EXISTS $table")
      graft.core.TableStore.overwriteTable(spark, table, keptSeed)
      val staged = graft.streaming.CurationStream.stageEmbeddings(inc, parts = 3)
      val out = graft.streaming.CurationStream.runSemanticDedupSinkWithStats(
        spark, staged, table, cents, threshold = 0.45, probes = 2)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      out
    }
    val repsJson = perRep.map(stats => stats.map(s =>
        f"""{"batch":${s.batchId},"rows":${s.batchRows},"kept":${s.keptRows},"vet_sec":${s.vetSec}%.3f}""")
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    println(f"""{"mode":"$mode","control_sec":$control%.3f,"sink_reps":$repsJson}""")
    spark.stop()
  }
}
