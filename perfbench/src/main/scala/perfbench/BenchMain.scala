package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.{Session, SparkEntry}
import graft.model.EngineConfig
import graft.plans.Pipeline
import graft.sources.{Catalog, Ods, RawIngest, Sinks}

/** One measured operation. `kind` separates the op classes a workload
  * reports on its own: `op` (the end-to-end population), `replay` (the ETL
  * replay) and `warm` (a cold-start workload's later calls in the same
  * session, not part of the end-to-end metrics). */
final case class Op(id: String, kind: String, name: String, latency_s: Double,
                    input_rows: Long, ok: Boolean, error: String,
                    traced: Boolean, start_ms: Long, end_ms: Long,
                    layers: Map[String, Double] = Map.empty, round: Int = 0)

/** An oracle check the runner makes after the JVM exits: DuckDB runs `sql`
  * over the workload's inputs and compares with the parquet in `dir`. */
final case class Check(name: String, dir: String, sql: String)

/** A workload drives the engine only through its public entry points.
  * `stage` is untimed set-up before the first timed op; `step` runs one
  * closed-loop step of one or more ops. The first execution of each op is
  * the one the oracle checks; every later one must return the same. */
trait Workload {
  val stageTimes: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def stepsPerRound: Int
  /** Whether the first timed op runs cold (a batch job's first call). */
  def coldStart: Boolean
  def stage(): Unit
  def step(i: Int, tr: Option[Tracer]): Seq[Op]
  def checks(): Seq[Check]
}

object BenchMain {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val inputs = new File(a("inputs")).getAbsolutePath
    val work = new File(a("work")).getAbsolutePath
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val traced = a.getOrElse("trace", "0") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val t0 = System.nanoTime()
    val spark = Session.build(appName = s"perfbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    val buildS = (System.nanoTime() - t0) / 1e9

    val tracer = if (traced) {
      val t = new Tracer(Attribution.moduleMap(
        new File("src/main/scala/graft"), new File("perfbench/src")))
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None

    val w: Workload = workload match {
      case "mart_queries" => new MartQueries(spark, inputs, work, seed, a("rows"))
      case "ida_etl_load" => new IdaEtlLoad(spark, inputs, work, a("raw-rows").toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val s0 = System.nanoTime()
    w.stage()
    val stageS = (System.nanoTime() - s0) / 1e9

    // closed loop, one client: whole rounds until the time is up. A traced
    // run alternates traced and untraced rounds so it can state the
    // tracing overhead; its first traced round is the population the
    // untraced run reports (the cold first op of a cold-start workload).
    val firstOpMs = System.currentTimeMillis()
    val ops = mutable.ArrayBuffer.empty[Op]
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    var i = 0
    var round = 0
    // traced: untraced/traced/untraced rounds (traced/untraced/traced/
    // untraced after a cold start, whose first round is not compared)
    val minRounds = if (!traced) 1 else if (w.coldStart) 4 else 3
    val shift = if (w.coldStart) 0 else 1
    while (round < minRounds || elapsed < seconds) {
      val tr = if ((round + shift) % 2 == 0) tracer else None
      (0 until w.stepsPerRound).foreach { _ =>
        ops ++= w.step(i, tr).map(_.copy(round = round)); i += 1 }
      round += 1
    }
    val loopS = elapsed

    // GC, let Spark's ContextCleaner drop what the GC released, GC again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)

    val withLayers = tracer match {
      case Some(t) =>
        t.drain()
        ops.toSeq.map(o => if (o.traced)
          o.copy(layers = t.opMetrics(o.id, o.start_ms, o.end_ms) ++ o.layers) else o)
      case None => ops.toSeq
    }
    val checks = w.checks()
    tracer.foreach { t =>
      val traceOps = withLayers.filter(_.traced)
      write(s"$work/trace.json", Map(
        "spans" -> t.allSpans,
        "ops" -> traceOps.map(o => Map(
          "id" -> o.id, "name" -> o.name, "kind" -> o.kind,
          "latency_s" -> o.latency_s, "layers" -> o.layers,
          "jobs" -> t.opJobs(o.id).map { case (id, cs, m) =>
            Map("job" -> id, "call_site" -> cs, "module" -> m) },
          "sql_execs" -> t.opSqlExecs(o.id).map { case (id, cs) =>
            Map("execution" -> id, "call_site" -> cs) }))))
    }
    write(s"$work/result.json", Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cold_start" -> w.coldStart,
      "cpus" -> Session.defaultCpus,
      "jvm_start_ms" -> jvmStart, "first_op_ms" -> firstOpMs,
      "session_build_s" -> buildS, "stage_s" -> stageS, "loop_s" -> loopS,
      "stage_by_name" -> w.stageTimes,
      "retained_heap_mb" -> heapMb,
      "ops" -> withLayers, "checks" -> checks))
    spark.stop()
  }

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(path: String, value: Any): Unit = json.writeValue(new File(path), value)

  /** Order-insensitive canonical form of a result, for comparing every op's
    * output with the checked first execution. */
  def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  def saveRows(spark: SparkSession, rows: Array[Row], schema: StructType,
               dir: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)

  def parseRows(spec: String): Map[String, Long] =
    spec.split(',').filter(_.contains('=')).map { kv =>
      val Array(k, v) = kv.split('=')
      k -> v.toLong
    }.toMap

  /** Runs `body` as op `id`: wall time, and under tracing the job group
    * that ties the op's jobs and SQL executions to its spans. */
  def timedOp[A](spark: SparkSession, id: String, name: String,
                 tr: Option[Tracer])(body: => A): (A, Double, Long, Long) = {
    tr.foreach(_ => spark.sparkContext.setJobGroup(id, name))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e9, startMs, System.currentTimeMillis())
    } finally tr.foreach(_ => spark.sparkContext.clearJobGroup())
  }
}

/** mart_queries: a fixed mix of analyst queries from `SparkEntry.queries`
  * over the star schema, run one at a time by one client; an op builds the
  * query's DataFrame and collects it. One untimed pass warms the session
  * and gives the results the oracle checks. Input rows of an op are the
  * fact rows (orders, lineitem) its query scans. */
class MartQueries(spark: SparkSession, dir: String, work: String, seed: Long,
                  rowSpec: String) extends Workload {
  private val rows = BenchMain.parseRows(rowSpec)
  private def facts(ts: String*) = ts.map(rows).sum
  val mix: Seq[(String, Long)] = Seq(
    "flagship_taxa_variacao" -> facts("orders"),
    "s8_dim_tempo" -> facts("orders"),
    "s8_dim_grupo" -> facts("orders"),
    "s8_dim_servico" -> facts("orders"),
    "s8_dim_variavel" -> facts("orders"),
    "j1_star_join" -> facts("orders"),
    "q1_agg" -> facts("lineitem"),
    "q6_forecast_revenue" -> facts("lineitem"),
    "a_grouping_sets" -> facts("orders"),
    "w_share_of_total" -> facts("orders"),
    "profile_all" -> facts("orders"))
  private val expected = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
  private val rng = new scala.util.Random(seed)
  private var order: Seq[String] = Nil

  // a round is one pass over the mix in a seeded order. Seven of the eleven
  // queries are sub-second, so the median op falls inside that cluster and
  // one slow sample cannot move it across the gap to the slower joins.
  val stepsPerRound: Int = mix.size
  val coldStart = false

  private def run(q: String, id: String, tr: Option[Tracer]): (Array[Row], StructType) =
    tr match {
      case None =>
        val df = SparkEntry.queries(q)(spark, dir)
        (df.collect(), df.schema)
      case Some(t) =>
        val df = t.span(id, s"SparkEntry.queries($q)", "plans",
          construct = true)(SparkEntry.queries(q)(spark, dir))
        (t.span(id, "collect", "spark")(df.collect()), df.schema)
    }

  def stage(): Unit = mix.foreach { case (q, _) =>
    val t0 = System.nanoTime()
    expected(q) = run(q, "", None)
    stageTimes(q) = (System.nanoTime() - t0) / 1e9
  }

  def step(i: Int, tr: Option[Tracer]): Seq[Op] = {
    if (i % mix.size == 0) order = rng.shuffle(mix.map(_._1))
    val (q, id) = (order(i % mix.size), s"op-$i")
    val op = try {
      val ((out, _), secs, s, e) = BenchMain.timedOp(spark, id, q, tr)(run(q, id, tr))
      val ok = BenchMain.canon(out) == BenchMain.canon(expected(q)._1)
      Op(id, "op", q, secs, mix.toMap.apply(q), ok,
        if (ok) "" else "result differs from the checked run", tr.isDefined, s, e)
    } catch { case e: Exception =>
      Op(id, "op", q, 0, mix.toMap.apply(q), ok = false, String.valueOf(e.getMessage),
        tr.isDefined, 0, 0)
    }
    Seq(op)
  }

  def checks(): Seq[Check] = expected.toSeq.map { case (q, (rows, schema)) =>
    val out = s"$work/checked/$q"
    BenchMain.saveRows(spark, rows, schema, out)
    Check(q, out, SparkEntry.oracleSql(q))
  }
}

/** ida_etl_load: `Pipeline.lifecycle` over the raw exports into a fresh
  * `ano`-partitioned store (kind `op`), then the same call again over the
  * same files into the same store (kind `replay`), which must append
  * nothing. Like the daily batch job it is, the load runs first thing in a
  * fresh session. Its store is the one the oracle checks; any later load
  * (kind `warm`) must produce the same store. Input rows are the raw sheet
  * rows parsed. */
class IdaEtlLoad(spark: SparkSession, dir: String, work: String,
                 rawRows: Long) extends Workload {
  // path, file name, header row, months — the oracle's view of each file
  private val resources: Seq[(String, String, Int, Seq[String])] =
    scala.io.Source.fromFile(s"$dir/resources.tsv", "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split('\t')).map { f =>
        (f(0), f(1), f(2).toInt, f(3).split(',').toSeq) }.toSeq
  private val cfg = {
    val keys = resources.map(_._2).collect {
      case s"ida_raw_${y}_${svc}.${_}" => (y.toInt, svc.toUpperCase) }
    EngineConfig(anosAlvo = keys.map(_._1).distinct.sorted,
      servicosAlvo = keys.map(_._2).distinct.sorted)
  }
  private var expected: Option[(Array[Row], StructType)] = None

  val stepsPerRound = 1
  val coldStart = true

  /** `Pipeline.lifecycle`, step by step under tracing so each layer's call
    * has its own span: Catalog.discover, the raw read per resource (the
    * same dispatch `lifecycle` makes), then Pipeline.run. */
  private def lifecycle(store: String, id: String,
                        tr: Option[Tracer]): Pipeline.RunStats = tr match {
    case None => Pipeline.lifecycle(spark, dir, cfg, store)
    case Some(t) =>
      val found = t.span(id, "Catalog.discover", "sources")(Catalog.discover(dir, cfg))
      val wides = found.map(r => t.span(id, s"readIdaExport(${r.id})", "sources",
        construct = true) {
        r.formato match {
          case "ODS" => Ods.readIdaExport(spark, r.url, Catalog.mappedSheet(r.servico))
          case _ => RawIngest.readIdaExport(spark, Catalog.resolveSheet(r))
        }
      })
      t.span(id, "Pipeline.run", "plans")(Pipeline.run(spark, wides, store))
  }

  private def storeRows(store: String): (Array[Row], StructType) = {
    val df = Sinks.readFact(spark, store).select(col("tempo_key"), col("grupo_key"),
      col("servico_key"), col("variavel_key"), col("valor").cast("double").as("valor"),
      col("arquivo_origem"), col("linha_origem"), col("hash_registro"), col("ano"))
    (df.collect(), df.schema)
  }

  private def files(store: String): Long = {
    val s = Files.walk(Paths.get(store))
    try s.filter(p => p.toString.endsWith(".parquet")).count() finally s.close()
  }

  private def problems(first: Pipeline.RunStats, replay: Pipeline.RunStats): Seq[String] =
    Seq(
      first.errors.nonEmpty -> s"load errors: ${first.errors}",
      replay.errors.nonEmpty -> s"replay errors: ${replay.errors}",
      (first.resources != resources.size) -> s"discovered ${first.resources} of ${resources.size}",
      (first.extracted != rawRows) -> s"extracted ${first.extracted} of $rawRows raw rows",
      (first.loadedNew == 0) -> "load appended no rows",
      (replay.loadedNew != 0) -> s"replay appended ${replay.loadedNew} rows"
    ).collect { case (true, msg) => msg }

  def stage(): Unit = ()

  def step(i: Int, tr: Option[Tracer]): Seq[Op] = {
    def kind(k: String) = if (i == 0) k else "warm"
    val store = s"$work/store-$i"
    val (loadId, replayId) = (s"op-$i-load", s"op-$i-replay")
    try {
      val (first, loadS, s1, e1) =
        BenchMain.timedOp(spark, loadId, "lifecycle", tr)(lifecycle(store, loadId, tr))
      val (replay, replayS, s2, e2) =
        BenchMain.timedOp(spark, replayId, "replay", tr)(lifecycle(store, replayId, tr))
      val got = storeRows(store)
      val checked = expected.getOrElse { expected = Some(got); got }
      val bad = problems(first, replay) ++ {
        val same = BenchMain.canon(got._1) == BenchMain.canon(checked._1)
        if (same) Nil else Seq("store differs from the checked load")
      }
      val err = bad.mkString("; ")
      val extra = Map("sinks.files_written" -> files(store).toDouble)
      Seq(
        Op(loadId, kind("op"), "lifecycle", loadS, rawRows, bad.isEmpty, err,
          tr.isDefined, s1, e1, extra),
        Op(replayId, kind("replay"), "replay", replayS, rawRows, bad.isEmpty, err,
          tr.isDefined, s2, e2, extra))
    } catch { case e: Exception =>
      Seq(Op(loadId, kind("op"), "lifecycle", 0, rawRows, ok = false,
        String.valueOf(e.getMessage), tr.isDefined, 0, 0))
    } finally deleteTree(store)
  }

  def checks(): Seq[Check] = {
    val out = s"$work/checked/ida_lifecycle"
    expected.foreach { case (rows, schema) => BenchMain.saveRows(spark, rows, schema, out) }
    Seq(Check("ida_lifecycle", out, Pipeline.lifecycleOracleSql(resources)))
  }

  private def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }
}
