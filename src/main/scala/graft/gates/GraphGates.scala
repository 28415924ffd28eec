package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns._
import graft.operators.Cluster
import graft.sources.Tables
import SparkEntry.{Spool, spooledNearDupPairs}

/** Graph gates (`graph_`): PageRank, HITS, BFS, strongly connected
  * components, topological levels, label propagation, k-core, Jaccard
  * and triangles. */
private[graft] object GraphGates {

  /** Engine mirror of [[graft.functions.SketchOracleSql]]'s sccCtes
    * fixture: 50 rank-blocks of 10 over the first 500 docs — forward
    * chains everywhere, even blocks close the 10-cycle (one SCC each),
    * even block heads point at the next block's head (condensation DAG
    * edges). Returns the directed (src, dst) doc-id edge list. */
  private def sccFixtureEdges(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
      .filter(col("rn") <= 500)
    val chain = m.select(col("rn").as("sr"), (col("rn") + 1).as("tr"))
      .filter((col("rn") - 1) % 10 < 9)
    val cycle = m.select(col("rn").as("sr"), (col("rn") - 9).as("tr"))
      .filter(expr("((rn - 1) div 10) % 2 = 0") && (col("rn") - 1) % 10 === 9)
    val cross = m.select(col("rn").as("sr"), (col("rn") + 10).as("tr"))
      .filter(expr("((rn - 1) div 10) % 2 = 0") &&
        (col("rn") - 1) % 10 === 0 && col("rn") + 10 <= 500)
    val er = chain.unionByName(cycle).unionByName(cross)
    val a = m.select(col("rn").as("sr"), col("doc_id").as("src"))
    val b = m.select(col("rn").as("tr"), col("doc_id").as("dst"))
    er.join(a, Seq("sr")).join(b, Seq("tr")).select(col("src"), col("dst"))
  }

  /** The iterative [[graft.operators.Graph.scc]] run is the cost (its
    * fixpoint loops are ~25 tiny jobs); three gates consume the SAME
    * 500-row result, so it is spooled once per sf dir. The spool holds the
    * COLLECTED rows (bounded: the 500-node fixture), not a checkpointed
    * frame — a cached RDD would die under the bench's inter-query
    * unpersist sweep and take every later consumer down with it; a local
    * 500-row table serves (and broadcasts) from the driver without cluster
    * state. Keyed on dir alone like every spool: the fixture derivation is
    * a deterministic pure function of the parquet under `dir`, so the rows
    * are value-identical across sessions. */
  private val sccRows = Spool("scc-memo")((s, dir, _) =>
    graft.operators.Graph.scc(sccFixtureEdges(s, dir), idOut = "node")
      .collect().map(r => (r.getLong(0), r.getLong(1))))

  private def sccMemo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sccRows(s, dir).toSeq.toDF("node", "scc_id")
  }

  val gates: Seq[Gate] = Seq(
    // ----- PageRank over the verified near-dup pair graph (fixed unrolled
    // rounds, decimal-carrier mass sums): the graph-centrality keep signal
    // — hub documents rank above leaf variants within a cluster. Same
    // staged pair spool as dedup_cluster; the oracle unrolls the identical
    // rounds in SQL
    Gate("graph_pagerank", ((s, dir) =>
      Cluster.pagerank(s.read.parquet(spooledNearDupPairs(s, dir)), iters = 3)
        .orderBy(col("doc_id"))),
      graft.functions.SketchOracleSql.pagerankOracleSql()),

    // ----- HITS hubs & authorities (sixth graph signal: walk-count
    // centrality) — unnormalized integer rounds are exact walk counts,
    // so the scores are BIGINTs with no float-normalization channel
    Gate("graph_hits", ((s, dir) =>
      Cluster.hits(s.read.parquet(spooledNearDupPairs(s, dir)), iters = 2)
        .orderBy(col("doc_id"))),
      graft.functions.SketchOracleSql.hitsOracleSql()),

    // ----- single-source BFS hop distances (fifth graph signal:
    // reachability DEPTH; Graph.bfsHops scaladoc) over the planted
    // 50-rank CHAIN graph (the dedup_cluster_chain fixture — the near-dup
    // twin graph has diameter 1, which would leave the frontier rounds
    // untested). Source = smallest node id; 4 rounds walk exactly 5 nodes
    // down the first chain; oracle unrolls the identical integer rounds
    Gate("graph_bfs_hops", ((s, dir) => {
      val n = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
      val a = n.select(col("doc_id").as("a"), col("rn"))
      val b = n.select(col("doc_id").as("b"), (col("rn") - 1).as("rn"))
      val pairs = a.join(b, Seq("rn")).filter(col("rn") % 50 =!= 0)
        .select(col("a"), col("b"))
      graft.operators.Graph.bfsHops(pairs, rounds = 4)
        .orderBy(col("doc_id"))
    }),
      graft.functions.SketchOracleSql.bfsOracleSql()),

    // ----- strongly-connected components (sixth graph signal: DIRECTED
    // cycles, which undirected CC structurally overcounts) via Orzan's
    // coloring / distributed FW-BW (Graph.scc scaladoc) over a planted
    // condensation: 25 ten-node cycle SCCs + 250 singletons joined by DAG
    // edges that must NOT merge. Oracle computes the same canonical
    // min-member ids from a recursive-CTE mutual-reachability closure —
    // algorithm-vs-specification, the dedup_cluster_chain discipline
    Gate("graph_scc", ((s, dir) =>
      sccMemo(s, dir).withColumnRenamed("node", "doc_id")
        .withColumn("scc_size",
          count(lit(1)).over(Window.partitionBy(col("scc_id"))))
        .orderBy(col("doc_id"))),
      graft.functions.SketchOracleSql.sccOracleSql),

    // ----- graph_scc truth table, stage 1: the planted edge list itself
    // (fixture construction pinned independently of the algorithm)
    Gate("graph_scc_diag_edges", ((s, dir) =>
      sccFixtureEdges(s, dir).orderBy(col("src"), col("dst"))),
      graft.functions.SketchOracleSql.sccEdgesOracleSql),

    // ----- graph_scc truth table, stage 2: the component size histogram
    // (isolates the size-count fold from the per-node id fold)
    Gate("graph_scc_diag_sizes", ((s, dir) =>
      sccMemo(s, dir)
        .groupBy(col("scc_id")).agg(count(lit(1)).as("scc_size"))
        .groupBy(col("scc_size")).agg(count(lit(1)).as("n_sccs"))
        .orderBy(col("scc_size"))),
      graft.functions.SketchOracleSql.sccSizesOracleSql),

    // ----- condensation DAG: edges lifted to the component level and
    // intra-component edges dropped — what SCC is FOR downstream (rank
    // the condensation, not the raw cyclic graph: PageRank on a graph
    // with link rings double-counts exactly what this collapses). Pure
    // composition of the gated scc ids with the gated edge list
    Gate("graph_scc_condensation", ((s, dir) => {
      val sc = sccMemo(s, dir)
      val e = sccFixtureEdges(s, dir)
      e.join(sc.select(col("node").as("src"), col("scc_id").as("scc_src")),
          Seq("src"))
        .join(sc.select(col("node").as("dst"), col("scc_id").as("scc_dst")),
          Seq("dst"))
        .filter(col("scc_src") =!= col("scc_dst"))
        .select(col("scc_src"), col("scc_dst")).distinct()
        .orderBy(col("scc_src"), col("scc_dst"))
    }),
      graft.functions.SketchOracleSql.sccCondensationOracleSql),

    // ----- longest-path topological levels of the condensation — the
    // scheduling depth a pipeline planner reads off the SCC DAG (level-k
    // components can all run once level-<k finished). Iterative
    // Bellman-Ford-on-a-DAG with loud cycle detection; oracle walks the
    // same levels as a recursive CTE and takes MAX per component
    Gate("graph_topo_levels", ((s, dir) => {
      val sc = sccMemo(s, dir)
      val e = sccFixtureEdges(s, dir)
      val cond = e
        .join(sc.select(col("node").as("src"), col("scc_id").as("cs")),
          Seq("src"))
        .join(sc.select(col("node").as("dst"), col("scc_id").as("cd")),
          Seq("dst"))
        .filter(col("cs") =!= col("cd"))
        .select(col("cs").as("src"), col("cd").as("dst")).distinct()
      // seed the FULL component universe: an isolated SCC (touching no
      // condensation edge) belongs at level 0, exactly as the oracle's
      // recursive CTE seeds every scc_id — without the universe the
      // engine would silently drop it (agreeing with the oracle only
      // while the fixture happens to have none)
      graft.operators.Graph.topoLevels(cond,
          nodes0 = Some(sc.select(col("scc_id")).distinct()))
        .withColumnRenamed("node", "scc_id")
        .orderBy(col("scc_id"))
    }),
      graft.functions.SketchOracleSql.sccTopoLevelsOracleSql),

    // ----- community detection over the same pair graph (synchronous
    // label propagation, fixed rounds): dense near-dup FAMILIES vs the
    // connectivity-only clusters CC yields — the third graph signal next
    // to centrality (pagerank) and reachability (dedup_cluster). Same
    // staged spool; the oracle unrolls the identical rounds
    Gate("graph_label_prop", ((s, dir) =>
      Cluster.labelPropagation(
          s.read.parquet(spooledNearDupPairs(s, dir)), iters = 3)
        .orderBy(col("doc_id"))),
      graft.functions.SketchOracleSql.labelPropOracleSql()),

    // ----- k-core peeling over the same pair graph (fourth graph signal:
    // density — chains survive CC and score zero triangles, but no chain
    // node survives the 2-core). Fixed unrolled peeling rounds; degree
    // within the surviving core (Graph.kCore scaladoc)
    Gate("graph_kcore", ((s, dir) =>
      graft.operators.Graph.kCore(
          s.read.parquet(spooledNearDupPairs(s, dir)), k = 2, rounds = 3)
        .orderBy(col("doc_id"))),
      graft.functions.SketchOracleSql.kcoreOracleSql()),

    // ----- second-order node similarity over the near-dup graph:
    // common-neighbor Jaccard (Liben-Nowell/Kleinberg link prediction) —
    // pairs similar to the same documents even without a direct edge
    Gate("graph_jaccard", ((s, dir) =>
      graft.operators.Graph.jaccardSimilarity(
          s.read.parquet(spooledNearDupPairs(s, dir)), minCommon = 2)
        .orderBy(col("u"), col("v"))),
      graft.functions.SketchOracleSql.jaccardOracleSql()),

    // ----- distributed triangle counting over a planted graph: ranks of
    // documents in 10-rank segments, edges (r,r+1) and (r,r+2) — every
    // interior rank closes a triangle. Orientation low→high counts each
    // triangle exactly once from its smallest vertex (wedge join + closure
    // join, two shuffles; degree-orientation drops in for skewed graphs)
    Gate("graph_triangles", ((s, dir) => {
      val v = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("rn",
          row_number().over(Window.partitionBy(singlePartitionKey(col("doc_id")))
            .orderBy(col("doc_id"))) - 1)
        .select(col("rn"))
      def within(k: Int, segCap: Int) = v
        .select(col("rn").as("src"), (col("rn") + k).as("dst"))
        .join(v.select(col("rn").as("dst")), Seq("dst"))
        .filter(col("src") % 10 < segCap)
      graft.operators.Graph.triangleCount(
        within(1, 9).unionByName(within(2, 8)))
    }),
      """WITH ranked AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn FROM documents
        |), e AS (
        |  SELECT a.rn AS u, b.rn AS v
        |  FROM ranked a JOIN ranked b ON b.rn = a.rn + 1
        |  WHERE a.rn % 10 < 9
        |  UNION ALL
        |  SELECT a.rn, b.rn
        |  FROM ranked a JOIN ranked b ON b.rn = a.rn + 2
        |  WHERE a.rn % 10 < 8
        |)
        |SELECT (SELECT COUNT(*) FROM e) AS n_edges,
        |  (SELECT COUNT(*)
        |   FROM e e1 JOIN e e2 ON e2.u = e1.v
        |   JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin),
  )
}
