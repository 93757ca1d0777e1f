package graft.operators

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftinterop.PlanInterop
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed graph primitives for dedup pipelines.
  *
  * Near-dup detection yields PAIRS; a training-data job needs GROUPS
  * (keep one canonical document per duplicate cluster). The bridge is
  * connected components over the pair graph.
  *
  * Every loop is a Pregel-style RDD iteration over Catalyst values:
  *  - the edges become (src, dst) values once (`queryExecution.toRdd`,
  *    both endpoints in the id type the two columns widen to);
  *  - the adjacency is built ONCE, hash-partitioned into the session's
  *    shuffle-partition count, and node state lives in the same
  *    partitioner, so adjacency ⋈ state is a narrow join;
  *  - each round is exactly ONE shuffle: messages (rank contributions,
  *    votes, neighbour minima) `reduceByKey` back into that partitioner;
  *  - the result becomes a DataFrame once, at the end.
  * So a round pays no Catalyst analysis, optimization, AQE re-planning
  * or whole-stage codegen, and runs no broadcast job — the per-round
  * DataFrame plans these loops used to build ran every exchange and
  * broadcast of each round at `localCheckpoint` time: 14 jobs per
  * `pagerank_neardup` / `label_propagation` pipeline op, 12 of them
  * while the DataFrame was being built. The fixed-iteration loops
  * ([[pageRankInt]], [[labelPropagate]]) now build with ZERO jobs and
  * the consumer's action runs the whole chain inside its own first job
  * (2 jobs per pipeline op, both the consumer's aggregate); the
  * converging loops ([[connectedComponents]], [[pointerJump]]) run
  * exactly one job per round, the one their convergence scalar rides.
  *
  * Lineage: every round's state (and the adjacency) is marked with
  * `RDD.localCheckpoint`, which for RDDs is lazy — blocks persist as
  * the first job computes them and the lineage truncates after it
  * (swap in reliable `checkpoint` against a cluster checkpoint dir for
  * fault-tolerant multi-hour runs).
  *
  * Nulls follow SQL join semantics: a null endpoint is a node (it is
  * listed in the output like any other) but it never joins — it sends
  * and receives nothing, so it keeps its initial state.
  */
object GraphOps {

  /** Edge endpoints as Catalyst values: `id` is the field the DataFrame
    * union of both endpoint columns has (widened type, nullable if
    * either is), `src` the source column's own field.
    */
  private final case class Edges(pairs: RDD[(Any, Any)], id: StructField,
      src: StructField, part: Partitioner)

  private def edgesOf(edges: DataFrame, srcCol: String,
      dstCol: String): Edges = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val id = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).schema.head
    val pairs = values(e.select(col("src").cast(id.dataType),
      col("dst").cast(id.dataType))).map(r => (r(0), r(1)))
    Edges(pairs, id, e.schema.head, new HashPartitioner(
      edges.sparkSession.sessionState.conf.numShufflePartitions))
  }

  /** `df`'s rows as Catalyst values, copied out of the scan's reused
    * row buffers. Builds no job for a plan without exchanges.
    */
  private def values(df: DataFrame): RDD[Array[Any]] = {
    val types = df.schema.fields.map(_.dataType)
    df.queryExecution.toRdd.map(r => Array.tabulate[Any](types.length)(i =>
      if (r.isNullAt(i)) null else InternalRow.copyValue(r.get(i, types(i)))))
  }

  /** Each key's record count and non-null values (duplicates kept),
    * hash-partitioned by `part` — the shuffle that builds a loop's
    * adjacency. A key whose values are all null is still a node.
    */
  private def adjacency(pairs: RDD[(Any, Any)],
      part: Partitioner): RDD[(Any, (Long, Vector[Any]))] =
    pairs.aggregateByKey((0L, Vector.empty[Any]), part)(
      (a, v) => (a._1 + 1L, if (v == null) a._2 else a._2 :+ v),
      (a, b) => (a._1 + b._1, a._2 ++ b._2))

  private def frame(spark: SparkSession, rows: RDD[(Any, Any)],
      fields: StructField*): DataFrame =
    PlanInterop.internalCreateDataFrame(spark,
      rows.map { case (k, v) => InternalRow(k, v) }, StructType(fields))

  /** Connected components by iterative min-label propagation: every
    * node starts labelled with its own id; each round, a node adopts
    * the minimum label among itself and its neighbours; at fixpoint the
    * label is the component-wide minimum id — a deterministic canonical
    * representative.
    *
    * Scale shape: one shuffle per round (every label to each
    * neighbour, min-combined map-side), rounds bounded by the graph
    * diameter — near-dup graphs are overwhelmingly small cliques and
    * short chains, so a handful of rounds closes them. The driver loop
    * is control only: each round is ONE job, whose materialization of
    * the round's state fills the changed-label accumulator the driver
    * then reads; node/edge data never leaves the executors.
    * Accumulator semantics are safe here: only zero-vs-nonzero is
    * read, a retried task can only inflate a NONZERO count, and a zero
    * count cannot be fabricated (no unchanged node ever adds).
    *
    * Returns (id, cluster) for every node incident to an edge.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): DataFrame =
    // a diameter > maxIter graph must FAIL, not return silently wrong
    // labels (propagation is linear in the diameter; raise maxIter, or
    // switch to pointer-jumping, for pathologically chained inputs)
    components(edges, srcCol, dstCol, maxIter, jump = false,
      s"connected components did not converge in $maxIter rounds — " +
        "graph diameter exceeds maxIter")

  /** Connected components in O(log diameter) rounds: min-label
    * propagation PLUS pointer jumping. Each round a node takes the
    * minimum of (a) its neighbours' labels — the hooking step that
    * merges adjacent label trees — and (b) its label's own label
    * (l(l(v)) — pointer doubling, which halves the depth of every
    * label chain). Label values are always node ids (minima over ids),
    * so the jump is a self-join of the label state on `cluster = id`.
    *
    * Same contract, determinism, and per-round cost shape as
    * [[connectedComponents]] (two shuffles per round instead of one —
    * the label requests re-key by cluster — one job and one
    * driver-read scalar per round, throws past `maxIter`) — but a
    * chain-of-duplicates graph that min-propagation crosses in
    * `diameter` rounds closes in ~log2(diameter) + 2: a 10^4-node path
    * needs ~15 rounds instead of 10^4. Use this when near-dup
    * relations can chain (A~B~C~... web boilerplate gradients at
    * corpus scale); plain propagation stays the default for the
    * clique-and-short-chain graphs LSH verify emits, where its single
    * shuffle per round wins.
    */
  def pointerJump(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): DataFrame =
    components(edges, srcCol, dstCol, maxIter, jump = true,
      s"pointer-jumping components did not converge in $maxIter rounds")

  private def components(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int, jump: Boolean, unconverged: String): DataFrame = {
    val spark = edges.sparkSession
    val g = edgesOf(edges, srcCol, dstCol)
    val part = g.part
    val ord = TypeUtils.getInterpretedOrdering(g.id.dataType)
    // undirected and distinct; a null endpoint keeps its node but
    // links to nothing
    val nbrs = adjacency(g.pairs.flatMap { case (a, b) =>
      val live = a != null && b != null
      Iterator((a, if (live) b else null), (b, if (live) a else null))
    }, part).mapValues(_._2.distinct).localCheckpoint()
    var labels: RDD[(Any, Any)] = nbrs.mapPartitions(
      _.map { case (v, _) => (v, v) }, preservesPartitioning = true)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val acc = spark.sparkContext
        .longAccumulator(if (jump) "pj_changed" else "cc_changed")
      val cur = labels
      val hook = nbrs.join(cur)
        .flatMap { case (_, (ns, c)) => ns.iterator.map(n => (n, c)) }
      // l(l(v)): ask node l(v) for its label — label values are node
      // ids, so they resolve against the label state itself
      val msgs = if (!jump) hook else hook.union(cur
        .flatMap { case (v, c) => Option(c).map(_ -> v) }
        .join(cur, part).values)
      val next = cur.leftOuterJoin(msgs.reduceByKey(part, ord.min(_, _)))
        .mapValues {
          case (c, Some(m)) if ord.lt(m, c) => acc.add(1L); m
          case (c, _) => c
        }
        .localCheckpoint()
      next.count() // the round's one job: computes, caches, fills acc
      converged = acc.value == 0L
      labels = next
      it += 1
    }
    if (!converged) throw new IllegalStateException(unconverged)
    frame(spark, labels, g.id, g.id.copy(name = "cluster"))
  }

  /** Majority-vote label propagation: seeded nodes keep their label
    * forever; unlabeled nodes adopt, each round, the most common label
    * among their LABELED neighbours (ties break to the smallest label
    * in Spark's value order — binary UTF-8 for strings, not
    * `String.compareTo` — a total order, so the result is exact and
    * engine-replayable; no randomized update schedule). The
    * semi-supervised step of data curation: quality/domain labels
    * assigned to a reviewed slice spread to their near-duplicates.
    *
    * Determinism: votes are integer counts; the winner per node is the
    * (−count, label) minimum — no floating point, no arrival-order
    * dependence. Scale shape: one shuffle per round (votes
    * count-combined map-side per (node, label)); vote state is bounded
    * by (nodes × distinct labels), never a corpus window. Fixed
    * `iters` (the gate unrolls the same rounds relationally): building
    * the result runs no job, its first action runs every round.
    *
    * `seeds`: (idCol, labelCol) — nodes absent from it start
    * unlabeled; a node with k seed rows keeps k output rows. Returns
    * (id, label) for every node incident to an edge; label NULL where
    * no labeled neighbourhood reached the node.
    */
  def labelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, idCol: String, labelCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    val g = edgesOf(edges, srcCol, dstCol)
    val s = seeds.select(col(idCol).cast(g.id.dataType), col(labelCol))
    val ord = TypeUtils.getInterpretedOrdering(s.schema(1).dataType)
    // BOTH endpoints are nodes: a dst-only node of a non-symmetrized
    // edge list is still "incident to an edge" and receives votes
    val out = adjacency(g.pairs.flatMap { case (a, b) =>
      Iterator((a, if (a == null) null else b), (b, null))
    }, g.part).mapValues(_._2).localCheckpoint()
    val seeded = values(s).flatMap(r => Option(r(0)).map(_ -> r(1)))
      .groupByKey(g.part)
    var labels: RDD[(Any, Vector[Any])] = out.leftOuterJoin(seeded)
      .mapValues { case (_, ls) => ls.fold(Vector[Any](null))(_.toVector) }
    for (_ <- 0 until iters) {
      val votes = out.join(labels)
        .flatMap { case (_, (dsts, ls)) =>
          for (l <- ls.iterator if l != null; d <- dsts.iterator) yield (d, l)
        }
        .aggregateByKey(Map.empty[Any, Long], g.part)(
          (m, l) => m.updated(l, m.getOrElse(l, 0L) + 1L),
          (a, b) => b.foldLeft(a) { case (m, (l, n)) =>
            m.updated(l, m.getOrElse(l, 0L) + n) })
      labels = labels.leftOuterJoin(votes).mapValues {
        case (ls, Some(m)) =>
          val w = m.reduce((x, y) =>
            if (x._2 > y._2 || x._2 == y._2 && ord.lt(x._1, y._1)) x else y)._1
          ls.map(l => if (l == null) w else l)
        case (ls, None) => ls
      }.localCheckpoint()
    }
    frame(edges.sparkSession,
      labels.flatMap { case (v, ls) => ls.map(v -> _) },
      g.id, StructField("label", s.schema(1).dataType, nullable = true))
  }

  /** Fixed-iteration PageRank in exact integer micro-units — graph
    * centrality for dedup review ("which document anchors this
    * near-dup neighbourhood") and link-ish corpus analytics.
    *
    * pr_0 = 10^6 per node; each round
    * pr' = ((dden−num)·10^6 + num·Σ_in (pr div deg)) div den
    * with num/den the damping rational (default 85/100). Every
    * operation is on longs: contributions use integer `div`, the
    * in-sum is a sum of longs (order-free — no floating-point
    * summation-order hazard between engines), and damping is one
    * multiply + one integer divide. The rank mass lost to `div`
    * truncation is bounded by in-degree per node per round — the
    * usual dangling/rounding slack, deterministic here. `deg` counts
    * every out-edge, one to a null dst included.
    *
    * Scale shape: one shuffle per round (contributions sum-combined
    * map-side into the rank partitioner), the classic power-iteration
    * plan; `iters` is fixed (the gate unrolls the same rounds
    * relationally): building the result runs no job, its first action
    * runs every round. Input edges are DIRECTED — pass both directions
    * for an undirected graph. Returns (id, pr) for every node with an
    * out-edge, id typed as the source column.
    */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    require(dampNum >= 0 && dampNum <= dampDen, "damping must be in [0,1]")
    val g = edgesOf(edges, srcCol, dstCol)
    val base = (dampDen - dampNum) * 1000000L
    // (deg, dsts) per node with an out-edge
    val out = adjacency(g.pairs.map { case (a, b) =>
      (a, if (a == null) null else b)
    }, g.part).localCheckpoint()
    var pr: RDD[(Any, Any)] = out.mapValues(_ => 1000000L)
    for (_ <- 0 until iters) {
      val sums = out.join(pr)
        .flatMap { case (_, ((deg, dsts), r)) =>
          val c = r.asInstanceOf[Long] / deg
          dsts.iterator.map(d => (d, c))
        }
        .reduceByKey(g.part, _ + _)
      pr = pr.leftOuterJoin(sums)
        .mapValues { case (_, s) =>
          (base + dampNum * s.getOrElse(0L)) / dampDen: Any }
        .localCheckpoint()
    }
    val ranks = frame(edges.sparkSession, pr,
      g.id.copy(nullable = g.src.nullable),
      StructField("pr", LongType, nullable = true))
    if (g.src.dataType == g.id.dataType) ranks
    else ranks.select(col("id").cast(g.src.dataType).as("id"), col("pr"))
  }
}
