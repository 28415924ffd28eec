package graft

import org.apache.spark.sql.SparkSession

import graft.model.EngineConfig

/** Central SparkSession factory so Verify / Bench / tests share the exact
  * same semantics-critical configuration.
  *
  * - `spark.sql.ansi.enabled=false`: the engine follows the reference's
  *   null-on-failure coercion semantics (/root/reference/etl/etl_ida.py:422-429
  *   parse errors -> None), not ANSI error semantics.
  * - `spark.sql.legacy.parquet.nanosAsLong=true`: some generations of the
  *   `events` fixture store TIMESTAMP(NANOS) which Spark otherwise refuses
  *   to read; [[graft.sources.Tables.normalizeEventTs]] absorbs that and the
  *   micros-NTZ / micros-UTC encodings, always surfacing TimestampType.
  * - UTC session timezone: required for DuckDB-oracle parity.
  * - Shuffle partitions sized to the local core count, not the 200 default:
  *   on a real cluster this would instead be tuned to ~2-3x total cores /
  *   left to AQE coalescing, which is enabled.
  * - `spark.task.maxFailures`: the reference's ETL_MAX_RETRIES knob
  *   (/root/reference/etl/etl_ida.py:80) mapped to its Spark analog — the
  *   reference retries a failed resource download N times; Spark retries a
  *   failed task. maxFailures counts ATTEMPTS, so it is maxRetries + 1.
  *   (local[] masters run tasks with a single attempt regardless; the conf
  *   matters on a real cluster, which is where transient failures live.)
  */
object Session {

  /** Pure settings assembly — unit-testable without a live session (a
    * `getOrCreate` in a shared-JVM test would silently return the existing
    * session and never apply new conf). */
  def confFor(shufflePartitions: Int,
              cfg: Option[EngineConfig] = None): Map[String, String] =
    Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // Partition counts derive from BYTES, not from the core count (r18,
      // guide §2.2 "size partitions by data, let AQE coalesce"): with the
      // default parallelismFirst=true, AQE targets ~one partition per core
      // even for KB-sized shuffles, so the same query runs 4x the tasks at
      // 32 cores as at 8 on identical data — per-task fixed cost made the
      // whole suite ANTI-scale with cores (r17: 379.9 s @32c vs 257.2 s
      // @8c on identical code; graph_pagerank measured 243 tasks and 15 s
      // of cumulative task time per execution at 32c vs 26 tasks / 0.5 s
      // with byte-derived sizing — same results, same plans). Spark's own
      // docs recommend parallelismFirst=false. The cached-plan flag closes
      // the remaining hole: persisted frames (iterative edge/label loops)
      // otherwise materialize at shuffle.partitions = cores and every
      // round's map side inherits the inflated task count.
      // The 1m advisory is the LOCAL default, sized so sf0.1's compute-
      // dense frames (rank windows, percentile sorts, shingle verifies)
      // keep a few-way fan-out while KB-sized iterative frames coalesce
      // to one task (A/B over 16 mixed gates: 36.5 s at 1m vs 39.5 s at
      // 8m vs the pre-change behavior's regressions on the graph/cluster
      // family); a cluster deployment overrides it to the guide's 64-256m
      // through $SPARK_GRAFT_CONF (applied last, see envConf) — the knob
      // is byte-denominated, so the setting is scale-adaptive by
      // construction rather than tuned to any core count.
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
      // native expressions as SQL functions (fnv1a64, cosine_sim, ...) —
      // see GraftExtensions; applied when the session is FIRST built
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false",
      // The app-status stores retain per-execution data (including FULL
      // physical-plan strings — ours run to MBs for the unrolled
      // sketch/Lloyd plans) even with the UI off: 1000 retained SQL
      // executions × 1000 jobs/stages was measurable heap drag over a
      // 159-query sweep. A long-running production pipeline wants the
      // same bounds — status history is observability, not state.
      "spark.sql.ui.retainedExecutions" -> "50",
      "spark.ui.retainedJobs" -> "200",
      "spark.ui.retainedStages" -> "200",
      "spark.ui.retainedTasks" -> "10000",
      // Compile each generated class once per JVM. Spark's codegen cache
      // (default 100 classes) is JVM-global and static: the first session
      // built in a JVM sizes it, at its first codegen. Sized to the working
      // set (4 vCPUs, sf0.1 star schema + 6-sheet IDA export, one JVM per
      // size): the 11-query mart mix compiles 198 classes and an ETL load
      // plus replay 97; together, in one session, 282. A second mart pass
      // compiled 0 classes at 250 (96 at 200, 191 at the default); a
      // second load + mart pass 0 at 350 and 71 at 300. Guava splits the
      // cache in 4 LRU segments, so it needs headroom over the set.
      "spark.sql.codegen.cache.maxEntries" -> "350",
      // The class name otherwise embeds the whole-stage codegen id, which
      // AQE numbers in the order query stages finish: warm flagship runs
      // compiled the same pipelines again under other names. Stage ids
      // stay in the plan (`*(n)`) and in a comment of the generated code.
      "spark.sql.codegen.useIdInClassName" -> "false"
    ) ++ cfg.map(c =>
      "spark.task.maxFailures" -> math.max(1, c.maxRetries + 1).toString)

  /** Per-JVM temp warehouse for `saveAsTable` staging (bucketed tables):
    * without it Spark writes ./spark-warehouse into the checkout. Lazy so
    * `confFor` stays a pure settings assembly; overridable via extraConf. */
  lazy val defaultWarehouse: String = java.nio.file.Files
    .createTempDirectory("graft-warehouse").toString

  /** Operator-supplied conf overrides from `$SPARK_GRAFT_CONF`
    * (`key=value` pairs, `;`-separated) — the parameterisation seam for
    * scale-dependent settings: local runs keep the defaults above, a
    * cluster deployment (or a perf experiment) overrides without a code
    * change. Applied LAST, so it wins over every built-in default. */
  def envConf: Map[String, String] =
    sys.env.get("SPARK_GRAFT_CONF").map(_.split(';').toSeq
      .map(_.trim).filter(_.contains('='))
      .map { kv =>
        val i = kv.indexOf('=')
        kv.take(i).trim -> kv.drop(i + 1).trim
      }.toMap).getOrElse(Map.empty)

  def build(master: String = s"local[${defaultCpus}]",
            shufflePartitions: Option[Int] = None,
            appName: String = "graft",
            extraConf: Map[String, String] = Map.empty,
            cfg: Option[EngineConfig] = None): SparkSession = {
    val parts = shufflePartitions.getOrElse(defaultCpus)
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
    (Map("spark.sql.warehouse.dir" -> defaultWarehouse) ++
      confFor(parts, cfg) ++ extraConf ++ envConf)
      .foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
  }

  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(c => scala.util.Try(c.toInt).toOption)
      .getOrElse(math.max(2, Runtime.getRuntime.availableProcessors()))
}
