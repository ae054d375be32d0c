package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Iterative graph algorithms beyond the pointer-doubling connected
  * components in [[Dedup]]. First resident: fixed-point PageRank — the
  * host/domain-importance signal web-crawl curation pipelines use as a
  * quality prior (OPIC/harmonic/PageRank centrality in Common-Crawl-style
  * ranking), here in EXACT integer arithmetic so the result is a pure
  * function of the graph — independent of engine, partitioning, and
  * float accumulation order, and therefore hash-replayable in SQL.
  */
object Graph {

  /** Total rank mass: ranks are BIGINT units of 1e-12. */
  private val scale = 1000000000000L

  /** Fixed-point PageRank: `iterations` synchronous power steps with
    * damping 85/100 and uniform teleport, all arithmetic in BIGINT
    * "rank units" of 1e-12 (`scale` = 1_000_000_000_000 = total mass).
    *
    * Per step, with integer division `div` throughout:
    *   contrib(u) = ((rank_u * 85) div 100) div outdeg_u
    *   share      = (Σ_{outdeg=0} (rank_u * 85) div 100) div N
    *   rank'(v)   = teleport + share + Σ_{u→v} contrib(u)
    *   teleport   = ((scale * 15) div 100) div N
    *
    * The div-floor truncations leak a few units of mass per step — the
    * documented price of exactness (a float engine leaks ulps instead,
    * nondeterministically). Ranks stay positive and bounded by `scale`,
    * so rank*85 never overflows a long.
    *
    * Scale shape: the rank relation is skinny (node, outdeg, rank) and
    * hash-partitioned by node; each step is ONE shuffle — contributions
    * flow through the edge relation (joined on src, re-keyed by dst,
    * summed with map-side combine), the dangling mass is a 1-row
    * aggregate broadcast back, and the per-step localCheckpoint cuts the
    * iterative lineage so step N's plan doesn't replay steps 1..N-1
    * (same contract as connectedComponents). At a 100-TB edge relation
    * you'd bucket edges BY src so the contrib join never re-shuffles the
    * big side; ranks re-use the edge partitioning across steps.
    *
    * `edges` must carry long columns `src`, `dst` (directed; pass both
    * directions for an undirected graph). Output: (node, rank). */
  def pageRankFixedPoint(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val (e, init, n) = rankInit(edges, prev = None)
    powerSteps(e, init, n, iterations).select(col("node"), col("rank"))
  }

  /** Warm-start PageRank — the delta form for a daily-growing graph:
    * re-run `iterations` power steps on the CURRENT edge relation, but
    * seed each node with its previous rank where one exists (new nodes
    * start at the uniform share). The step function is IDENTICAL to the
    * cold fit, so the result is still a deterministic pure function of
    * (edges, prevRanks, iterations) — a declared warm-start contract,
    * not an approximation of the cold result: its value is that on a
    * graph that changed a little, a couple of warm steps land where the
    * cold run needs its full budget (PageRankSpec measures exactly
    * that, plus near-stationarity when the graph didn't change — the
    * same delta-operator theme as the dedup/CC delta family).
    *
    * prevRanks: (node, rank). Output: (node, rank).
    * Declared by SURVEY "Beyond `queries` (round 10)", warm-start PageRank. */
  def pageRankWarmStart(edges: DataFrame, prevRanks: DataFrame,
                        iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val (e, init, n) = rankInit(edges, Some(prevRanks))
    powerSteps(e, init, n, iterations).select(col("node"), col("rank"))
  }

  /** Shared init: checkpointed edges, the seeded (node, outdeg, rank)
    * relation, and the node count that sizes the teleport. */
  private def rankInit(edges: DataFrame, prev: Option[DataFrame])
      : (DataFrame, DataFrame, Long) = {
    val e = edges.select(col("src").cast(LongType).as("src"),
                         col("dst").cast(LongType).as("dst"))
      .localCheckpoint(false)
    val nodeSet = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val n = nodeSet.count() // one bounded driver scalar: sizes the teleport
    // empty graph -> empty ranks, NOT a divide-by-zero: a df-capped
    // syndication build can legitimately yield zero edges (e.g. a fully
    // cross-duplicated corpus where every shingle exceeds the cap), and
    // the gate downstream treats no-rank hosts as rank 0 (probe-found,
    // ScaleProbe host_rank 64x)
    if (n == 0) return (e, e.sparkSession.createDataFrame(
      e.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", LongType),
        org.apache.spark.sql.types.StructField("outdeg", LongType),
        org.apache.spark.sql.types.StructField("rank", LongType)))), 0L)
    val base = nodeSet.join(outdeg, Seq("node"), "left")
      .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"))
    val seeded = prev match {
      case None =>
        base.select(col("node"), col("outdeg"), lit(scale / n).as("rank"))
      case Some(pr) =>
        // renormalize the seed to total mass = scale: joined/added nodes
        // make the raw seed's mass differ from scale, and that excess
        // (or deficit) would decay only at damping rate — two warm
        // steps would chase mass drift instead of structure. The factor
        // is ONE double (deterministic), ranks are < 2^53 so the
        // product is exact-input, floor keeps it integral.
        val seeded0 = base
          .join(pr.select(col("node"), col("rank").as("prev_rank")),
            Seq("node"), "left")
          .select(col("node"), col("outdeg"),
            coalesce(col("prev_rank"), lit(scale / n)).as("rank"))
        val tot = seeded0
          .agg(sum(col("rank")).as("t"))
        seeded0.crossJoin(broadcast(tot))
          .select(col("node"), col("outdeg"),
            expr(s"CAST(floor(rank * (CAST(${scale}L AS DOUBLE) / t)) " +
              "AS BIGINT)").as("rank"))
    }
    (e, seeded.localCheckpoint(), n) // eager: see powerSteps
  }

  /** The synchronous power iteration shared by cold and warm starts. */
  private def powerSteps(e: DataFrame, init: DataFrame, n: Long,
                         iterations: Int): DataFrame = {
    if (n == 0) return init // empty graph: nothing to iterate
    val teleport = ((scale * 15L) / 100L) / n
    var ranks = init
    for (_ <- 1 to iterations) {
      val contrib = ranks.filter(col("outdeg") > 0)
        .join(e, ranks("node") === e("src"))
        .select(col("dst"), expr("((rank * 85) div 100) div outdeg").as("c"))
      val inflow = contrib.groupBy("dst").agg(sum(col("c")).as("inflow"))
      // dangling mass: a 1-row aggregate, broadcast via cross join (no
      // driver collect in the loop)
      val dang = ranks.filter(col("outdeg") === 0)
        .agg(coalesce(sum(expr("(rank * 85) div 100")), lit(0L)).as("dm"))
      ranks = ranks
        .join(inflow, ranks("node") === inflow("dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"), col("outdeg"),
          (lit(teleport) + coalesce(col("inflow"), lit(0L)) +
            expr(s"dm div ${n}L")).as("rank"))
        // EAGER cut: the next step reads `ranks` in two concurrent AQE
        // jobs (the dangling-mass broadcast and the inflow join's
        // shuffle); over a lazy cut both would meet its still-pending
        // checkpoint, and Spark's checkpoint locks invert (jstack:
        // DAGScheduler.getCacheLocs against RDD.doCheckpoint on the
        // broadcast-exchange thread) — a hang, not an error
        .localCheckpoint()
    }
    ranks
  }

  /** Level-synchronous BFS over a child→parent forest — the recursive-
    * CTE capability (hierarchy expansion: org charts, BOMs, category
    * trees) Spark SQL lacks natively, as a bounded fixpoint loop. From
    * the root set, each level joins the remaining edges against the
    * current frontier; levels accumulate (node, root, depth).
    *
    * Scale shape: one equi-join per LEVEL (not per node), keyed by the
    * parent column, with the frontier localCheckpointed so level N's
    * plan doesn't replay levels 1..N−1; total work = Σ level sizes =
    * |reachable nodes|. The loop is driver-bounded by `maxDepth` and
    * FAILS LOUD if the frontier hasn't emptied by then (a silent
    * truncation would misreport depths as coverage).
    *
    * `edges`: (child, parent) longs. `roots`: (node) longs.
    * Output: (node, root, depth) for every reachable node, roots at
    * depth 0. */
  def bfsDepths(edges: DataFrame, roots: DataFrame,
                maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"maxDepth=$maxDepth")
    val e = edges.select(col("child").cast(LongType).as("child"),
      col("parent").cast(LongType).as("parent")).localCheckpoint(false)
    var frontier = roots
      .select(col("node").cast(LongType).as("node"),
        col("node").cast(LongType).as("root"), lit(0L).as("depth"))
      .localCheckpoint(false)
    var acc = frontier
    var level = 0
    while (level < maxDepth && !frontier.isEmpty) {
      frontier = e.join(frontier, e("parent") === frontier("node"))
        .select(col("child").as("node"), col("root"),
          (col("depth") + 1L).as("depth"))
        .localCheckpoint(false)
      acc = acc.unionByName(frontier)
      level += 1
    }
    require(frontier.isEmpty,
      s"frontier not empty after $maxDepth levels — raise maxDepth")
    acc
  }

  /** Host-authority prior from CONTENT SYNDICATION — the curation-gate
    * consumer PageRank was built for: with no crawl link graph in the
    * corpus, hosts that share near-identical content (≥ 3 distinct
    * word 5-shingles) are linked, and 6 steps of fixed-point PageRank
    * over that graph rank hosts by how central they are in the
    * syndication network (mirror farms and scraped-content hubs score
    * structurally, not by volume). Output: (host, rank) for every host
    * with at least one syndication edge — callers join it back to
    * documents as a gate or weight (d17 / CurationModels).
    *
    * Scale shape: the shingle pass is d09's map stage; the host-pair
    * build is one shingle-keyed self-join whose fan-out is bounded by
    * `maxHostsPerShingle` — a ubiquitous boilerplate shingle would
    * otherwise contribute |hosts|² pairs, so shingles on more hosts than
    * the cap are dropped BEFORE the self-join (the standard df-cap; at
    * the default 50 the worst shingle costs 2 500 pairs, and the
    * testdata's ≤ tens of hosts never hits it). The rank loop is
    * [[pageRankFixedPoint]]'s one-shuffle-per-step shape on a
    * hosts-sized graph. */
  def hostSyndicationRank(docs: DataFrame, textCol: String,
                          hostCol: String,
                          maxHostsPerShingle: Int = 50): DataFrame = {
    val hostSh = docs
      .select(col(hostCol).as("host"),
        explode(Dedup.wordShingles(col(textCol), 5)).as("g"))
      .distinct()
    val capped = hostSh.groupBy("g")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxHostsPerShingle)
      .select("g")
    val pruned = hostSh.join(capped, Seq("g"))
    val pairs = pruned.as("a")
      .join(pruned.as("b"),
        col("a.g") === col("b.g") && col("a.host") =!= col("b.host"))
      .groupBy(col("a.host").as("ha"), col("b.host").as("hb"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
    // pairs holds both orders already (a<>b join), so the edge relation
    // is symmetric — the same contract q51's trade graph satisfies
    val edges = pairs.select(
      graft.functions.GraftFunctions.md5Long(col("ha")).as("src"),
      graft.functions.GraftFunctions.md5Long(col("hb")).as("dst"))
    val ranks = pageRankFixedPoint(edges, 6)
    docs.select(col(hostCol).as("host")).distinct()
      .withColumn("node", graft.functions.GraftFunctions.md5Long(col("host")))
      .join(ranks, Seq("node"))
      .select(col("host"), col("rank"))
  }
}
