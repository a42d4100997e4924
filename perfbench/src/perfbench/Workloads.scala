package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{DeltaExport, TableStore}
import graft.pharma.{Cleaning, Dashboard, InsuranceModel, MedsFeed, PharmaFixture}

/** How an op's output is checked (by `oracle.py`, after the run). */
sealed trait Check
/** Digest must equal the DuckDB result of `sql`. */
final case class Oracle(sql: String) extends Check
/** Checked through other ops (the ingest through the dashboards, commits
  * through the time-travel reads) or by the op itself (the model). */
case object Indirect extends Check

/** One timed call into the engine, forced and digested inside the timing.
  * `span` names the layer call (the trace's span name); `name` is unique
  * within a pass. `cpu` is the JVM's Cpu.engine time while the op ran:
  * process-wide, so an op's own only when ops run one at a time (as in
  * measured passes, not in the concurrent warm-up). */
final case class OpResult(pass: Int, name: String, span: String, kind: String,
    seconds: Double, cpu: Double, rows: Long, digest: String, check: Check,
    extra: Map[String, Double], error: Option[String])

/** Runs ops for the workloads: timing, spans (when tracing) and error
  * capture. An op that throws is recorded as failed and the pass goes on. */
final class Runner(spark: SparkSession, var tracer: Option[Tracer]) {
  val results = scala.collection.mutable.ArrayBuffer.empty[OpResult]
  var pass = 0

  def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))

  /** `body` returns (rows, digest, extra measurements). */
  def op(name: String, span: String, kind: String, check: Check)(
      body: => (Long, String, Map[String, Double])): Unit = {
    val (t0, c0) = (System.nanoTime(), Cpu.engine)
    val r = try Right(this.span(span)(body)) catch { case e: Throwable => Left(e) }
    val (s, c) = ((System.nanoTime() - t0) / 1e9, Cpu.engine - c0)
    val res = r match {
      case Right((rows, digest, extra)) => OpResult(pass, name, span, kind, s, c, rows, digest, check, extra, None)
      case Left(e) =>
        System.err.println(s"[perfbench] op $name failed:")
        e.printStackTrace()
        OpResult(pass, name, span, kind, s, c, 0L, "", check, Map.empty, Some(e.toString.take(300)))
    }
    results.synchronized(results += res)
  }

  /** Runs independent call chains on their own threads and waits for all
    * (warm-up only: the driver-side first-run work of one chain overlaps
    * the others'). */
  def concurrently(chains: (() => Unit)*): Unit = {
    val threads = chains.map(c => new Thread(() => c()))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** A trace-only probe step: timed like an op, its value passed on;
    * None when it failed (recorded like a failed op). */
  def call[T](span: String)(body: => T): Option[T] = {
    var out: Option[T] = None
    op(span, span, "probe", Indirect) { out = Some(body); (0L, "", Map.empty) }
    out
  }

  def digest(df: => DataFrame): (Long, String, Map[String, Double]) = {
    val (n, d) = Digest.of(df)
    (n, d, Map.empty)
  }
}

/** A benchmark workload: seeded inputs, one pass of engine calls, the
  * DuckDB views its oracles need, and trace-only layer probes. */
trait Workload {
  /** Input records one pass consumes. */
  def records: Long
  /** Writes this run's inputs under `dir` (or, for inputs `run.py`
    * wrote before the JVM started, just points the workload at them). */
  def generate(dir: String): Unit
  def pass(r: Runner): Unit
  /** The set-up pass: every call of a pass once, independent chains on
    * their own threads. The first run of a call is 2-3x a warm one, and
    * mostly single-threaded driver work (class loading, code generation,
    * JIT), so overlapping the chains brings the JVM to steady state in
    * less wall time than a sequential pass. */
  def warmUp(r: Runner): Unit
  /** Table name → parquet path for the oracle's DuckDB views. */
  def oracleViews: Map[String, String] = Map.empty
  /** Untimed work after the passes that oracles need (e.g. a raw dump). */
  def prepareOracle(): Unit = ()
  /** Trace-only breakdown of calls a pass makes as one public function. */
  def probes(r: Runner): Unit = ()
}

object Workload {
  def apply(name: String, spark: SparkSession, work: String, seed: Long, tiny: Boolean): Workload =
    name match {
      case "pharma_e2e" => new PharmaE2E(spark, work, seed, if (tiny) 3000 else 4000)
      case "curation_versions" => new CurationVersions(spark, work, tiny)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def dirBytes(dir: String, keep: String => Boolean = _ => true): (Long, Long) = {
    val f = new File(dir)
    if (!f.exists()) (0L, 0L)
    else {
      val files = Files.walk(f.toPath).iterator().asScala.filter(Files.isRegularFile(_))
        .filter(p => keep(p.toString)).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }
  }

  def isData(p: String): Boolean = p.endsWith(".parquet") && !p.contains("_delta_log")
}

/** The paper's pipeline as one pass: feed files → flatten → clean →
  * managed table → the 14 dashboards → class-weighted RF. */
final class PharmaE2E(spark: SparkSession, work: String, seed: Long, val records: Long) extends Workload {
  private var feedDir = ""
  private val rawDir = s"$work/oracle/pharma_raw"
  private val table = "default.medications"

  /** The meds feed as JSON-lines feed documents (one `{letter: [records]}`
    * document per line, 100 records each), built from
    * `PharmaFixture.recordJson` on executors. The seed picks the
    * record-index window. */
  def generate(dir: String): Unit = {
    import spark.implicits._
    feedDir = s"$dir/feed"
    // locals only: the closure below ships to executors
    val (lo, perDoc, n) = (Math.floorMod(seed * 100003L, 1L << 30).toInt, 100, records)
    val letters = Seq("A", "B", "C", "D", "E")
    spark.range(0, (n + perDoc - 1) / perDoc, 1, 4).as[Long]
      .map { d =>
        val ids = (lo + d.toInt * perDoc) until (lo + math.min(n, (d + 1) * perDoc).toInt)
        letters.zipWithIndex.map { case (l, li) =>
          val recs = ids.filter(_ % letters.length == li)
            .map(i => PharmaFixture.recordJson(i).replace('\n', ' '))
          s""""$l": [${recs.mkString(",")}]"""
        }.mkString("{", ",", "}")
      }
      .write.mode("overwrite").text(feedDir)
  }

  private def feed: DataFrame = spark.read.text(feedDir).withColumnRenamed("value", "json")

  private def oracleOf(n: Int): Check = {
    val prefix = f"pharma_q$n%02d_"
    SparkEntry.oracleSql.collectFirst {
      case (k, sql) if k.startsWith(prefix) => Oracle(sql.replace("__PHARMA_RAW__", rawDir))
    }.getOrElse(throw new NoSuchElementException(s"no oracle for dashboard $n"))
  }

  private def ingest(r: Runner): Unit =
    r.op("ingest", "core.TableStore.overwrite", "ingest", Indirect) {
      TableStore.overwriteTable(spark, table, Cleaning.all(MedsFeed.flatten(feed)))
      val loc = new File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, "medications").getPath
      (-1L, "", Map("files_written" -> Workload.dirBytes(loc, Workload.isData)._1.toDouble))
    }

  private def dashboards(r: Runner, ns: Seq[Int]): Unit = {
    val meds = spark.table(table)
    ns.foreach { n =>
      r.op(f"dashboard_q$n%02d", f"pharma.Dashboard.q$n%02d", "dashboard", oracleOf(n)) {
        r.digest(Dashboard.all(n)(meds))
      }
    }
  }

  private def train(r: Runner, meds: => DataFrame): Unit =
    r.op("train", "pharma.InsuranceModel.trainAndEvaluate", "train", Indirect) {
      val m = InsuranceModel.trainAndEvaluate(Dashboard.mlDataset(meds))
      // PharmaMlSpec's floor; the reload check is the model's own
      if (m.auc < 0.6 || !m.reloadOk)
        throw new IllegalStateException(s"model check failed: auc=${m.auc} reload_ok=${m.reloadOk}")
      (m.trainRows + m.testRows, "", Map("auc" -> m.auc, "accuracy" -> m.accuracy))
    }

  def pass(r: Runner): Unit = { ingest(r); dashboards(r, 1 to 14); train(r, spark.table(table)) }

  /** The forest (the longest chain) trains on the cleaned feed directly,
    * so it need not wait for the table. */
  def warmUp(r: Runner): Unit = r.concurrently(
    () => train(r, Cleaning.all(MedsFeed.flatten(feed))),
    () => { ingest(r); r.concurrently(() => dashboards(r, 1 to 7), () => dashboards(r, 8 to 14)) })

  override def prepareOracle(): Unit =
    Cleaning.structFlatten(MedsFeed.flatten(feed)).drop("lab", "class")
      .write.mode("overwrite").parquet(rawDir)

  /** flatten and clean are lazy: force each prefix to the `noop` sink
    * and take differences (row counts come from one untimed count each;
    * an Observation would leave the session unserializable for MLlib's
    * model closures). The model's steps are re-run one by one through
    * InsuranceModel's public functions, in trainAndEvaluate's order. */
  override def probes(r: Runner): Unit = {
    val prefixes = Seq("pharma.MedsFeed.flatten" -> (() => MedsFeed.flatten(feed)),
      "pharma.MedsFeed.flatten+pharma.Cleaning.all" -> (() => Cleaning.all(MedsFeed.flatten(feed))))
    (1 to 3).foreach(_ => prefixes.foreach { case (name, df) =>
      r.op(name, name, "probe", Indirect) {
        df().write.format("noop").mode("overwrite").save(); (0L, "", Map.empty)
      }
    })
    prefixes.foreach { case (name, df) =>
      r.results += OpResult(0, s"$name.rows", s"$name.rows", "probe", 0.0, 0.0, df().count(), "",
        Indirect, Map.empty, None)
    }
    val ml = Dashboard.mlDataset(spark.table(table))
    val prepared = InsuranceModel.withLabelAndWeight(ml).cache()
    val Array(train, test) = prepared.randomSplit(Array(0.8, 0.2), seed = 42)
    for {
      model <- r.call("pharma.InsuranceModel.fit")(InsuranceModel.pipeline().fit(train))
      preds <- r.call("pharma.InsuranceModel.transform") {
        val p = model.transform(test).cache(); p.count(); p
      }
      _ <- r.call("pharma.InsuranceModel.evaluate") {
        import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
        new MulticlassClassificationEvaluator().setLabelCol("label")
          .setPredictionCol("prediction").setMetricName("accuracy").evaluate(preds)
        new BinaryClassificationEvaluator().setLabelCol("label")
          .setRawPredictionCol("rawPrediction").setMetricName("areaUnderROC").evaluate(preds)
        InsuranceModel.classStats(preds, 0.0); InsuranceModel.classStats(preds, 1.0)
      }
      _ <- r.call("pharma.InsuranceModel.persist_roundtrip") {
        if (!InsuranceModel.persistenceRoundTrip(model, test))
          throw new IllegalStateException("reloaded model disagrees")
      }
    } preds.unpersist()
    prepared.unpersist()
  }
}

/** The curation layer's connected-components dedup beside the
  * versioned-storage layer used the other way round from pharma_e2e:
  * many small commits and reads of old versions. Each pass commits into
  * a fresh Delta table (base write, appends, two merges, checkpoint),
  * reads old versions back (time travel, change feed, driver replay),
  * then runs q51 (the components loop) and q103 (CDC → incremental
  * aggregate over TableStore's versioned publish). */
final class CurationVersions(spark: SparkSession, work: String, tiny: Boolean) extends Workload {
  private var dir = ""
  // must match gen.SIZES
  private val (baseRows, appends, perAppend, docs, events) =
    if (tiny) (1000L, 3, 50L, 60L, 2000L) else (2000L, 4, 100L, 200L, 2000L)
  val records: Long = baseRows + (appends + 2) * perAppend + docs + events
  private val queries = Seq("q51_dedup_clusters", "q103_incremental_agg")
  /** Versions read back by time travel: the base and the last merge. */
  private val versions = Seq(0L, appends + 2L)
  private val batches = Seq("base", "merge_1", "merge_2") ++ (1 to appends).map(appendName)

  /** gen.py wrote documents, events and the commit batches here. */
  def generate(d: String): Unit = dir = d

  /** A batch as it lands; only merge batches carry the delete flag. */
  private def batch(name: String) = {
    val b = spark.read.parquet(s"$dir/batches/batch=$name")
    if (name.startsWith("merge")) b.select("k", "grp", "val", "note", "__delete")
    else b.select("k", "grp", "val", "note")
  }

  /** The commit loop into a fresh table, then reads of its old versions. */
  private def versioned(r: Runner): Unit = {
    val t = s"$work/delta/pass${r.pass}"
    val D = DeltaExport
    def commit(name: String, span: String, kind: String)(body: => Long): Unit =
      r.op(name, span, kind, Indirect) { val v = body; (v, "", Map.empty) }
    commit("base_write", "core.DeltaExport.write", "commit") {
      D.writeDeltaTable(spark, batch("base"), t).toLong
    }
    (1 to appends).foreach { i =>
      commit(appendName(i), "core.DeltaExport.append", "append") {
        D.appendDeltaTable(spark, batch(appendName(i)), t)
      }
    }
    Seq(1, 2).foreach { i =>
      commit(s"merge_$i", "core.DeltaExport.merge", "merge") {
        D.mergeDeltaTable(spark, batch(s"merge_$i"), t, Seq("k"), deleteCol = Some("__delete"))
      }
    }
    commit("checkpoint", "core.DeltaExport.checkpoint", "checkpoint") {
      D.checkpointDeltaTable(spark, t)
    }
    versions.foreach { v =>
      r.op(s"time_travel_v$v", "core.DeltaExport.time_travel", "version_read", Oracle(stateSql(v))) {
        r.digest(D.readDeltaTable(spark, t, Some(v)))
      }
    }
    r.op("cdf_read", "core.DeltaExport.cdf_read", "version_read", Oracle(cdfSql)) {
      r.digest(D.readDeltaCdf(spark, t, 0L, Some(appends.toLong)))
    }
    r.op("replay", "core.DeltaExport.replay", "version_read", Indirect) {
      (D.liveFilesAt(t, None)._2.size.toLong, "", Map.empty)
    }
    if (r.tracer.isDefined) storage(r, t)
  }

  private def query(r: Runner, q: String): Unit =
    r.op(q, s"queries.$q", "query", Oracle(SparkEntry.oracleSql(q))) {
      r.digest(SparkEntry.queries(q)(spark, dir))
    }

  def pass(r: Runner): Unit = { versioned(r); queries.foreach(query(r, _)) }

  /** The concurrent first runs, then one sequential pass: the many short
    * calls of this pass are still JIT-compiling on their second run (it
    * reads ~20% slower than the third). */
  def warmUp(r: Runner): Unit = {
    r.concurrently((() => versioned(r)) +: queries.map(q => () => query(r, q)): _*)
    r.pass = -2
    pass(r)
  }

  private val cols = "k, grp, val, note"
  private def appendName(i: Int) = f"append_$i%02d"

  /** The table at version `v`, recomputed from the batch files: base plus
    * appends, then each merge as delete-matching-keys plus insert. */
  private def stateSql(v: Long): String = {
    val appended = ("base" +: (1 to math.min(v, appends.toLong).toInt).map(appendName))
      .map(b => s"SELECT $cols FROM $b").mkString(" UNION ALL ")
    (1 to (v - appends).toInt).foldLeft(appended) { (st, m) =>
      s"""SELECT $cols FROM ($st) s WHERE k NOT IN (SELECT k FROM merge_$m)
         |UNION ALL SELECT $cols FROM merge_$m WHERE NOT __delete""".stripMargin
    }
  }

  /** The change feed of the appends: every appended row as an insert. */
  private def cdfSql: String = (1 to appends).map { i =>
    s"SELECT $cols, 'insert' AS _change_type, CAST($i AS BIGINT) AS _commit_version FROM ${appendName(i)}"
  }.mkString(" UNION ALL ")

  /** Storage footprint of the pass's table (trace only; driver-side file
    * listing, no Spark job). */
  private def storage(r: Runner, t: String): Unit = {
    val (files, dataBytes) = Workload.dirBytes(t, Workload.isData)
    val (_, logBytes) = Workload.dirBytes(s"$t/_delta_log")
    val live = DeltaExport.liveFilesAt(t, None)._2.map(f => Files.size(Paths.get(t, f))).sum
    r.results += OpResult(r.pass, "storage", "core.DeltaExport.storage", "storage", 0.0, 0.0, files, "",
      Indirect, Map("log_bytes" -> logBytes.toDouble, "data_bytes" -> dataBytes.toDouble,
        "files" -> files.toDouble, "live_bytes" -> live.toDouble), None)
  }

  override def oracleViews: Map[String, String] =
    Map("documents" -> s"$dir/documents.parquet", "events" -> s"$dir/events.parquet") ++
      batches.map(b => b -> s"$dir/batches/batch=$b")
}
