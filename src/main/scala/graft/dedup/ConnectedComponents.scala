package graft.dedup

import graft.core.DedupConfig
import graft.core.SessionConf._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative self-join connected components (min-label propagation with
  * pointer jumping), pure DataFrame — SURVEY.md §2.2 P9.
  *
  * Discipline grafted from the reference's merge-until-fixpoint contract
  * (`FrequentItems.java:292-308`): per-round state is a mergeable (id →
  * min-label) table; rounds are associative label-min joins; convergence is
  * detected by an unchanged exact [[labelSum]]. `localCheckpoint` truncates
  * lineage each round (iterative joins otherwise stack exponentially deep
  * plans).
  *
  * Scale notes (100 TB story):
  *  - vertices are derived from edges only — singleton clips never enter the
  *    iteration (at web scale the vast majority of rows);
  *  - per-vertex degree is bounded by construction upstream
  *    ([[CandidatePairs]] window cap), so no hub vertex dominates a join
  *    key — the usual CC killer — and AQE handles residual imbalance;
  *  - pointer jumping (label := label(label)) makes rounds O(log diameter):
  *    ~3 rounds for the chain-stitched giant clusters the corpus plants.
  */
object ConnectedComponents {

  /** Symmetrized edge list with self-loops — each vertex's own label rides
    * the same propagation join (no per-iteration union). */
  def symmetrize(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val vertices = edges.select($"a".as("src")).union(edges.select($"b".as("src")))
      .distinct()
    edges.select($"a".as("src"), $"b".as("dst"))
      .union(edges.select($"b".as("src"), $"a".as("dst")))
      .union(vertices.select($"src", $"src".as("dst")))
  }

  /** Symmetrized edges repartitioned AND sorted by the propagate-join key,
    * then eagerly checkpointed: localCheckpoint preserves
    * outputPartitioning/outputOrdering in the LogicalRDD it leaves behind,
    * so every per-round propagate join streams sym in place — no sym
    * exchange, no sym sort, in any round. One shuffle buys zero per round. */
  def checkpointedSym(edges: DataFrame, p: Int): DataFrame =
    symmetrize(edges).repartition(p, col("src"))
      .sortWithinPartitions(col("src")).localCheckpoint(true)

  /** Initial labels: every vertex labels itself. */
  def initLabels(sym: DataFrame): DataFrame = {
    import sym.sparkSession.implicits._
    sym.select($"src".as("id")).distinct().withColumn("label", $"id")
  }

  /** One pointer jump: label := label's label (labels only ever decrease,
    * so `least` + left join is a safe contraction even when the label is
    * not itself a vertex of the table). */
  private def jump(labels: DataFrame): DataFrame = {
    import labels.sparkSession.implicits._
    val l2 = labels.select($"id".as("lid"), $"label".as("llabel"))
    labels.as("x")
      .join(l2.as("y"), col("x.label") === col("y.lid"), "left")
      .select(col("x.id").as("id"),
        least(col("x.label"), coalesce(col("y.llabel"), col("x.label"))).as("label"))
  }

  /** Neighbor-min propagation — the round's ONLY edge-table join, kept lazy
    * and separate so its plan shape is assertable (PlanSpec: sym streams in
    * place, never re-exchanged/re-sorted). */
  def propagate(sym: DataFrame, labels: DataFrame): DataFrame = {
    import sym.sparkSession.implicits._
    val msgs = sym.join(labels, sym("src") === labels("id"))
      .select(sym("dst").as("id"), labels("label"))
    msgs.groupBy($"id").agg(min($"label").as("label"))
  }

  /** One propagation round: neighbor-min label, then two pointer jumps
    * (label := label(label(label))), quartering the remaining diameter —
    * the jump joins run on the small (id, label) table, while each saved
    * round saves a full edge-table propagate join, so two jumps per round
    * is the cheaper trade (measured on the bench corpus).
    *
    * The propagate result is EAGERLY checkpointed before the jumps: jump()
    * references its input on both sides of a self-join and the two jumps
    * nest, so a lazy propagate is re-derived by every concurrently
    * scheduled join branch racing on the uncached partitions — measured 25
    * full-edge-table scans per 160k-clip run where the algorithm needs 5.
    * One small eager job pins the O(V) (id, label) table so the round scans
    * the edge table exactly once and the jumps probe a few-MB cache. At
    * 10^12-vertex scale the duplicated propagate joins would re-read TBs of
    * edges per round — eager is the only shape that survives. */
  def step(sym: DataFrame, labels: DataFrame): DataFrame =
    jump(jump(propagate(sym, labels).localCheckpoint(true)))

  /** Exact sum of labels as a decimal (no 64-bit wrap at 10^12 vertices).
    * Per-vertex labels are monotone non-increasing under min-propagation and
    * the vertex set is fixed, so the sum is strictly decreasing until the
    * fixpoint: sum unchanged ⟺ no label changed. One cheap scan-agg job on
    * checkpointed partitions instead of a join+count shuffle per round. */
  def labelSum(labels: DataFrame): java.math.BigDecimal = {
    // coalesce: a global sum over ZERO rows is NULL in Spark — an empty
    // edge set (corpus with no duplicates) must converge, not NPE
    val d = labels.agg(sum(col("label").cast(DecimalType(38, 0))))
      .collect()(0).getDecimal(0)
    if (d == null) java.math.BigDecimal.ZERO else d
  }

  /** Driver-local union-find for SMALL tail graphs. Same output contract as
    * [[run]]: (id, label) with label = min id in the component — the min of
    * a component is independent of union order, so the result is
    * bit-identical to the distributed loop's fixpoint.
    *
    * Scale contract: this is the small-graph fast path ONLY — [[components]]
    * gates it on an edge count the caller already has, with a threshold
    * whose collect is trivially driver-safe (10^5 edges = 1.6 MB). The
    * iterative loop in [[run]] remains THE production path and the one the
    * 160k-clip bench exercises (~5x10^5 edges); a tiny dedup tail-graph
    * simply does not need a cluster, and ~15 scheduler round-trips of
    * 3-task stages cost more than the entire union-find. */
  def runLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = edges.select(col("a"), col("b")).as[(Long, Long)].collect()
    val idx = new java.util.HashMap[Long, Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[Long]
    val parent = new scala.collection.mutable.ArrayBuffer[Int]
    def at(x: Long): Int = {
      val got = idx.get(x)
      if (got != null) got.intValue()
      else {
        val i = ids.length
        idx.put(x, Integer.valueOf(i)); ids += x; parent += i; i
      }
    }
    def find(i0: Int): Int = { // path halving
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    pairs.foreach { case (a, b) =>
      val ra = find(at(a)); val rb = find(at(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // java.lang.Long values on purpose: a scala.Long value type would make
    // `get` unbox absent (null) to 0 silently — caught by the equality spec
    val minOf = new java.util.HashMap[Integer, java.lang.Long]()
    var i = 0
    while (i < ids.length) {
      val r = Integer.valueOf(find(i))
      val cur = minOf.get(r)
      if (cur == null || ids(i) < cur.longValue()) minOf.put(r, java.lang.Long.valueOf(ids(i)))
      i += 1
    }
    val out = new Array[(Long, Long)](ids.length)
    i = 0
    while (i < ids.length) {
      out(i) = (ids(i), minOf.get(Integer.valueOf(find(i))).longValue())
      i += 1
    }
    spark.createDataset(out.toSeq).toDF("id", "label")
  }

  /** Called after each convergence check with the labels, the check's
    * round index and whether the labels are the fixpoint; returns false to
    * end the loop early. */
  type OnCheck = (DataFrame, Int, Boolean) => Boolean
  val NoCheck: OnCheck = (_, _, _) => true

  /** THE CC entry of every dedup lane: the driver-local union-find
    * ([[runLocal]]) when `edgeCount` is at most `cfg.ccLocalMaxEdges`, else
    * the distributed loop ([[run]]) resumed from `from` when given. The
    * union-find's result reaches `onCheck` as one converged check (round
    * 0). Output is bit-identical either way. */
  def components(edges: DataFrame, edgeCount: Long, cfg: DedupConfig,
                 from: Option[(DataFrame, Int)] = None,
                 onCheck: OnCheck = NoCheck): DataFrame =
    if (edgeCount <= cfg.ccLocalMaxEdges) {
      val labels = runLocal(edges)
      onCheck(labels, 0, true)
      labels
    } else run(edges, maxIter = 50, from, onCheck)

  /** @param edges DataFrame with long columns (a, b) — undirected unique pairs.
    * @param from starting labels and the round index they complete, instead
    *             of every vertex labelling itself at round 0.
    * @return DataFrame (id: Long, label: Long) — label = min id in component.
    */
  def run(edges: DataFrame, maxIter: Int = 50, from: Option[(DataFrame, Int)] = None,
          onCheck: OnCheck = NoCheck): DataFrame = {
    val spark = edges.sparkSession
    // AQE re-plans every exchange as its own mini-job: across ~5 rounds x
    // ~5 exchanges that is ~25 serial driver round-trips for label tables
    // of a few MB — pure scheduling latency at any core count. The loop's
    // plans are tiny and regular; static planning runs each round as ONE
    // job. (Restored after the loop — the big relational stages DO want
    // AQE's runtime broadcast decisions.)
    // The jump/step joins operate on per-round (id, label) tables. The
    // static planner sees small stats and picks BroadcastHashJoin — but the
    // label table is REBUILT every round, so each round pays two serial
    // broadcast builds (measured at 160k clips: 8 extra jobs per run, each
    // re-reading ~122 MB of lineage, parUse 0.76→0.86 once removed). At
    // production scale the label table is O(vertices) and could never be
    // broadcast anyway — shuffle joins are the only shape that survives
    // 10^12 rows, so force them at every scale.
    withConf(spark, AdaptiveEnabled -> "false", AutoBroadcastThreshold -> "-1") {
      // previously the 25 MB sym table was re-exchanged ~4x per round (the
      // 3-way union in symmetrize has no useful partitioning); now only the
      // few-MB label table moves per round — see [[checkpointedSym]]
      val p = math.max(2, spark.conf.get(ShufflePartitions).toInt)
      val sym = checkpointedSym(edges, p)
      var (labels, round) = from.getOrElse((initLabels(sym).localCheckpoint(true), 0))
      var prevSum = labelSum(labels)
      var go = true
      while (go && round < maxIter) {
        // TWO propagation rounds per convergence check: at worst one extra
        // (cheap) round runs after the fixpoint. Each step internally runs
        // one eager job for its propagate table (see [[step]]); the jump
        // tails stay LAZY — each is referenced exactly once downstream (the
        // next propagate, or labelSum), so the single materializing action
        // computes it once and the lazy localCheckpoint caches + truncates
        // lineage in that same job.
        labels = step(sym, step(sym, labels).localCheckpoint(false))
          .localCheckpoint(false)
        val s = labelSum(labels)
        val converged = s.compareTo(prevSum) == 0
        prevSum = s
        go = onCheck(labels, round, converged) && !converged
        round += 1
      }
      labels
    }
  }
}
