package graft

import graft.gates.{Gate, Gates}

/** The driver contract's own invariants: every gate has an oracle, gate
  * names are unique, and the declared spools stage once each. */
class SparkEntrySpec extends SparkSpec {

  test("every query has an oracle and every oracle a query") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("the registry holds all 350 gates") {
    // a family left out of the registry drops from both maps at once,
    // which the key-set test alone cannot see
    assert(SparkEntry.queries.size == 350)
  }

  test("the registry rejects a duplicate gate name") {
    val g = Gate("q1_agg", (s, _) => s.range(1).toDF(), "SELECT 1")
    val e = intercept[IllegalArgumentException](Gates.registry(Seq(g, g)))
    assert(e.getMessage.contains("duplicate gate 'q1_agg'"))
  }

  test("spools: 38 declared names, all staged, each built once") {
    val names = SparkEntry.Spool.all.map(_.name)
    assert(names.distinct == names)
    assert(names.toSet == Set(
      "neardup-pairs", "exact-dups", "events-tumble", "events-sess",
      "events-dedup", "jdbc-stream-fact", "ingest-records", "schema-evo",
      "bucketed-tables", "bloomskip", "png-blobs", "png-real", "png-meta",
      "png-neardup", "wav-real", "wav-meta", "wav-neardup", "apng-real",
      "apng-neardup", "curated-corpus", "curate-staged", "curate-dedup",
      "kmeans-fit", "mh-index-append", "corpus-dedup-artifacts",
      "stream-dedup-slices", "stream-dedup-slices-mod3", "stream-dedup",
      "stream-dedup-prefix", "ivfpq-index", "bpe-merges",
      "classifier-weights", "pca-fit", "cluster-reps", "scc-memo",
      "derby-fact", "derby-dim", "derby-stream"))
    assert(SparkEntry.stageAllSpools(spark, sf0001) == 38)
    // every build returns a fresh object (a new path string, a new
    // array), so reference identity across calls shows no rebuild
    SparkEntry.Spool.all.foreach { sp =>
      assert(sp(spark, sf0001) eq sp(spark, sf0001), sp.name)
    }
  }
}
