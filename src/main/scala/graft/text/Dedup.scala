package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for document tables, designed for the 100 TB case:
 * every shuffle key is a fixed-width hash (8 bytes), never the document text;
 * candidate generation is linear in documents (LSH bucketing), and only the
 * candidate pairs — a tiny fraction — are verified against exact similarity.
 */
object Dedup {

  /** Partition width of a frame derived from its PHYSICAL PLAN — no RDD
   * materialization (`df.rdd` under AQE executes any shuffle stages in the
   * lineage just to answer the question). A plan containing a shuffle is
   * already `spark.sql.shuffle.partitions` wide; otherwise the width is the
   * sum of the leaf scans' partition counts (executing a LEAF builds its
   * RDD lazily — file listing only, no job). */
  private[text] def planWidth(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = df.queryExecution.sparkPlan
    // find is pre-order, so this is the TOPMOST (output-side) shuffle
    plan.find(_.isInstanceOf[ShuffleExchangeLike]) match {
      case Some(ex) => ex.asInstanceOf[ShuffleExchangeLike].numPartitions
      case None     => plan.collectLeaves().map(_.execute().getNumPartitions).sum
    }
  }

  /** Widen a frame narrower than the cluster default parallelism before a
   * CPU-heavy per-row pass: a small parquet file arrives as 1-2 partitions
   * and would otherwise run the pass single-threaded. At scale the input is
   * already wide and this is a no-op (no shuffle added, and the width probe
   * itself is plan metadata — it launches no job). */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (planWidth(df) < par) df.repartition(par) else df
  }

  /**
   * Shuffle width for dedup pair-graph work, sized from the corpus row count
   * instead of the session's data-sized default. Pair-graph frames (LSH
   * bands, candidate pairs, CC labels) are O(dup docs) — tiny next to the
   * corpus — so at small scale the stages are fixed-overhead-bound and a
   * narrow width wins (measured: 64-wide shuffles on a 5k-doc corpus were
   * pure task-count overhead); at large scale the width must grow with the
   * data or everything funnels through `floor` tasks. ceil(rows /
   * targetRowsPerTask) clamped to [floor, 4 x defaultParallelism] — the cap
   * keeps task counts proportional to the cluster, the floor keeps small
   * jobs from collapsing to one task.
   */
  def pairGraphShuffleWidth(
      rows: Long,
      defaultParallelism: Int,
      targetRowsPerTask: Long = 4096L,
      floor: Int = 8): Int = {
    // overflow-safe ceil: rows + target - 1 would wrap near Long.MaxValue
    val target = math.max(1L, targetRowsPerTask)
    val ceilRows = rows / target + (if (rows % target > 0) 1L else 0L)
    val byRows = math.min(Int.MaxValue.toLong, ceilRows).toInt
    val cap = math.max(floor, 4 * math.max(1, defaultParallelism))
    math.min(cap, math.max(floor, byRows))
  }

  private def broadcastCapError(maxRows: Int, what: String, alternative: String) =
    new IllegalArgumentException(
      s"$what: corpus exceeds maxBroadcastRows=$maxRows. This is the driver-" +
        s"collected exact ground-truth baseline; at scale use $alternative, " +
        "or raise maxBroadcastRows if the corpus genuinely fits driver memory.")

  /**
   * Fail-fast guard + collect for the driver-collected exact baselines: the
   * quadratic ground-truth APIs collect the corpus to the driver before
   * broadcasting, which is the right physical shape ONLY while the corpus
   * fits in driver memory. A misuse at 100x scale must fail with a clear
   * pointer to the scale path, not OOM the driver. Guard and collect are ONE
   * scan: `take(cap+1)` short-circuits via Spark's incremental partition
   * scan, so the cap check costs no extra job (a standalone limit+count
   * probe doubled the scan on wide upstream plans). Driver memory is bounded
   * at cap+1 rows either way.
   */
  private[text] def collectBroadcastable(
      df: DataFrame,
      maxRows: Int,
      what: String,
      alternative: String): Array[org.apache.spark.sql.Row] = {
    val rows =
      if (maxRows >= Int.MaxValue - 1) df.collect()
      else df.take(maxRows + 1)
    if (rows.length > maxRows) throw broadcastCapError(maxRows, what, alternative)
    rows
  }

  /** Frees the cached blocks behind a `localCheckpoint()`ed frame. Only call
   * once nothing references the frame anymore: localCheckpoint truncates
   * lineage, so unpersisted blocks cannot be recomputed. */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  // Column UDFs over TextFunctions; GraftExtensions.functionTable registers
  // these values as the SQL text scalars.
  val tokenCountUdf = udf((s: String) => TextFunctions.tokenCount(s))
  val bpeishTokenCountUdf = udf((s: String) => TextFunctions.bpeishTokenCount(s))
  val qualityScoreUdf = udf((s: String) => TextFunctions.qualityScore(s))
  val langIdUdf = udf((s: String) => TextFunctions.langId(s))
  val hammingUdf = udf((a: Long, b: Long) => TextFunctions.hammingDistance(a, b))
  val fingerprintUdf = udf((s: String) => TextFunctions.fingerprint64(s))
  val minhashUdf =
    udf((s: String, numHashes: Int, k: Int) => TextFunctions.minhashSignature(s, numHashes, k))
  val simhashUdf = udf((s: String) => TextFunctions.simhash64(s))
  val jaccardUdf = udf((a: String, b: String, k: Int) => TextFunctions.shingleJaccard(a, b, k))

  /** Sorted shingle-hash set of a text — computed once per document so pair
   * verification does not re-tokenize (documents appear in many pairs). */
  val shinglesUdf = udf((s: String, k: Int) => {
    val h = TextFunctions.shingleHashes(s, k)
    java.util.Arrays.sort(h)
    h
  })

  /** Exact Jaccard of two pre-sorted shingle-hash arrays (linear merge). */
  val jaccardSortedUdf = udf((a: Seq[Long], b: Seq[Long]) => {
    if (a.isEmpty && b.isEmpty) 1.0
    else if (a.isEmpty || b.isEmpty) 0.0
    else {
      var i = 0
      var j = 0
      var inter = 0
      while (i < a.length && j < b.length) {
        val x = a(i)
        val y = b(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      inter.toDouble / (a.length + b.length - inter)
    }
  })

  /**
   * Exact duplicate groups: rows whose canonical fingerprint collides are
   * grouped; the text is carried through the aggregation only to guard
   * against (vanishingly unlikely) 64-bit fingerprint collisions.
   * Returns (fingerprint, n_docs, representative_id).
   */
  def exactDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprintUdf(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("representative_id"))

  /** Keeps one row (smallest id) per distinct canonical text. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    df.withColumn("__fp", fingerprintUdf(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /**
   * MinHash-LSH candidate pairs: signature of `numHashes` minima is split
   * into `bands`; two documents are candidates iff at least one band hashes
   * identically (probability 1-(1-j^r)^b for Jaccard j, r = rows per band).
   * Pairs are emitted once (id_a < id_b). Only ids and band hashes shuffle.
   */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // materialize signatures once: the banded frame feeds both sides of the
    // candidate self-join, which would otherwise recompute the UDF per side
    val sigs = widen(df)
      .select(
        col(idCol).as("id"),
        minhashUdf(col(textCol), lit(numHashes), lit(shingleK)).as("sig"))
      .localCheckpoint()
    val banded = sigs
      .select(
        col("id"),
        posexplode(
          array((0 until bands).map(b =>
            hash((0 until rows).map(r => col("sig")(b * rows + r)): _*)): _*))
          .as(Seq("band", "band_hash")))
    banded
      .as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /**
   * Verified near-duplicate pairs: LSH candidates filtered by exact shingle
   * Jaccard >= threshold. The text join touches only candidate ids.
   *
   * With `collapseExact` (default), exact duplicates (by canonical
   * fingerprint) are collapsed to one representative BEFORE banding, so a
   * text duplicated 10^4 times contributes ONE row to the LSH self-join
   * instead of a quadratic bucket blowup; group members are re-expanded
   * afterwards via joins (intra-group pairs have Jaccard exactly 1.0 —
   * identical canonical texts have identical shingle sets — and cross-group
   * member pairs inherit their representatives' Jaccard). The expansion is
   * linear in the OUTPUT pair count, which is inherent.
   */
  def nearDuplicatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      collapseExact: Boolean = true): DataFrame = {
    if (!collapseExact) {
      return verifiedPairs(
        df.select(col(idCol).as("id"), col(textCol).as("text")),
        threshold, numHashes, bands, shingleK)
    }
    // ids keep their original type: ordering and joins work for longs,
    // strings, UUIDs alike (casting to long would silently null out
    // non-numeric ids and return zero pairs)
    val withFp = df
      .select(
        col(idCol).as("id"),
        fingerprintUdf(col(textCol)).as("fp"),
        col(textCol).as("text"))
    // one representative (smallest id) per distinct canonical text
    val reps = withFp
      .groupBy(col("fp"))
      .agg(min(struct(col("id"), col("text"))).as("r"))
      .select(col("fp"), col("r.id").as("id"), col("r.text").as("text"))
      .localCheckpoint()
    val repPairs = verifiedPairs(
      reps.select(col("id"), col("text")), threshold, numHashes, bands, shingleK)
    val members = withFp.select(col("fp"), col("id")).localCheckpoint()
    // intra-group pairs: identical canonical text => Jaccard 1.0
    val intra = members
      .as("a")
      .join(members.as("b"), col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), lit(1.0).as("jaccard"))
      .filter(lit(1.0) >= threshold)
    // cross-group pairs: expand each verified representative pair to all
    // (member of A) x (member of B) combinations; groups differ, so ids never
    // collide, but member ids interleave in id order
    val repFp = reps.select(col("id").as("rid"), col("fp").as("rfp"))
    val cross = repPairs
      .join(repFp.as("fa"), col("id_a") === col("fa.rid"))
      .join(repFp.as("fb"), col("id_b") === col("fb.rid"))
      .join(members.as("ma"), col("fa.rfp") === col("ma.fp"))
      .join(members.as("mb"), col("fb.rfp") === col("mb.fp"))
      .select(
        least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b"),
        col("jaccard"))
    intra.unionByName(cross)
  }

  /**
   * Corpus deduplication: drops every document that is an exact or verified
   * near-duplicate (Jaccard >= threshold) of ANY smaller-id document. Note
   * this is a single-pass rule, not greedy cluster representatives: on a
   * transitive chain A~B, B~C with A!~C, both B and C are dropped (each has a
   * smaller-id near-duplicate), whereas iterative greedy selection would keep
   * C after dropping B. The one-pass rule is deterministic, embarrassingly
   * parallel, and strictly more aggressive — acceptable for training-data
   * dedup where over-dropping borderline chain members is the safe side; use
   * [[dropNearDuplicatesClustered]] for one-representative-per-transitive-
   * cluster semantics (connected components).
   * The pair generation is the banded-LSH path above (linear in docs +
   * candidates); the removal is a distinct + left-anti join on the id column.
   */
  def dropNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    val toDrop = nearDuplicatePairs(df, idCol, textCol, threshold, numHashes, bands, shingleK)
      .select(col("id_b").as("__drop_id"))
      .distinct()
    df.join(toDrop, col(idCol) === col("__drop_id"), "left_anti")
  }

  /**
   * Near-duplicate CLUSTER assignment: connected components over the
   * verified near-duplicate pair graph. Returns (id, cluster_id) for every
   * document, where cluster_id is the smallest id in the document's
   * transitive near-duplicate cluster (singletons map to themselves).
   * This is the third — and strongest — dedup semantics next to
   * [[dropExactDuplicates]] and the one-pass [[dropNearDuplicates]]:
   * one representative per transitive cluster, the usual choice for
   * training-corpus dedup pipelines.
   */
  def nearDuplicateClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    val pairs = nearDuplicatePairs(df, idCol, textCol, threshold, numHashes, bands, shingleK)
    clustersFromPairs(df, idCol, pairs)
  }

  /** Connected components over a PRECOMPUTED (id_a, id_b) near-duplicate
   * pair graph — compute the pair graph once (it is the expensive part) and
   * reuse it for clustering, dropping, and reporting. Returns
   * (id, cluster_id = min id of the transitive cluster). */
  def clustersFromPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    connectedComponents(
      df.select(col(idCol).as("id")),
      pairs.select(col("id_a"), col("id_b")))

  /** Keeps the representative (min-id) document of each cluster given a
   * precomputed (id, cluster_id) assignment from [[clustersFromPairs]]. */
  def keepClusterRepresentatives(
      df: DataFrame,
      idCol: String,
      clusters: DataFrame): DataFrame = {
    val reps = clusters
      .filter(col("id") === col("cluster_id"))
      .select(col("id").as("__rep_id"))
    df.join(reps, col(idCol) === col("__rep_id"), "left_semi")
  }

  /** Keeps exactly one document (the smallest id) per transitive
   * near-duplicate cluster. */
  def dropNearDuplicatesClustered(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3): DataFrame =
    keepClusterRepresentatives(
      df,
      idCol,
      nearDuplicateClusters(df, idCol, textCol, threshold, numHashes, bands, shingleK))

  /**
   * Distributed connected components by min-label propagation WITH pointer
   * jumping: each round every node (1) adopts the minimum label among itself
   * and its neighbors, then (2) jumps to its label's own label
   * (label <- label(label)). The jump doubles the distance that minimum
   * labels travel per round, so convergence is O(log diameter) rounds — a
   * 200-node chain converges in ~9 rounds where plain propagation needs 200
   * (and a clique still converges in 2-3). Each round is two equi-joins on
   * the 8-byte id plus a min-aggregation; lineage is truncated per round.
   * Nothing graph-sized ever reaches the driver. Nodes: (id); edges:
   * (id_a, id_b), undirected. Returns (id, cluster_id = component minimum).
   *
   * Correctness invariant (unchanged by the jump): labels are always ids of
   * nodes within the same component and decrease monotonically; at fixpoint
   * every edge's endpoints share a label, so the common label is the
   * component minimum. maxIters bounds ROUNDS, not diameter — 2^60-diameter
   * graphs do not exist, so 60 is effectively unconditional.
   */
  private[text] def connectedComponents(
      nodes: DataFrame,
      edges: DataFrame,
      maxIters: Int = 60): DataFrame =
    connectedComponentsWithRounds(nodes, edges, maxIters)._1

  /** [[connectedComponents]] plus the number of rounds it took — the rounds
   * count is the observable the O(log diameter) claim is tested against. */
  private[text] def connectedComponentsWithRounds(
      nodes: DataFrame,
      edges: DataFrame,
      maxIters: Int = 60): (DataFrame, Int) = {
    val sym = edges
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint()
    val nodeIds = nodes.select(col("id")).distinct()
    // iterate ONLY over edge-adjacent nodes: near-duplicate pair graphs are
    // tiny relative to the corpus, so the per-round joins touch O(dup docs)
    // rows, never the corpus — singletons (the overwhelming majority at
    // 100 TB) are their own cluster and join back in once at the end
    var ckpt = sym
      .select(col("src").as("id"))
      .distinct()
      .join(nodeIds, Seq("id"), "left_semi")
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    var labels = ckpt
    // the round's superseded checkpoint, tracked separately so a throw
    // between materializing the new round and freeing the old one leaks
    // neither (advice-r6: the old single-var bookkeeping could leak the
    // just-materialized checkpoint if the changed-count job threw)
    var prevCkpt: DataFrame = null
    var changed = 1L
    var it = 0
    // on ANY failure path (mid-round throw or the non-convergence throw
    // below) the live checkpoint caches must not leak into a long-lived
    // session; success keeps ckpt alive — the returned frame reads it
    try {
    while (changed > 0 && it < maxIters) {
      // ONE plan per round — propagate + pointer jump — materialized once.
      // The jump reads the PREVIOUS round's labels (the checkpointed frame,
      // so three scans of one cached RDD, no recompute): reach(r) =
      // (reach(r-1) + 1) + reach(r-1), the same doubling recurrence as a
      // same-generation jump, one checkpoint cheaper.
      val neighborMin = sym
        .join(labels, sym("dst") === labels("id"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nmin"))
      val lookup = labels.select(col("id").as("jid"), col("label").as("jlabel"))
      val updated = labels
        .join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(
          col("id"),
          col("label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("next"))
        .join(lookup, col("next") === col("jid"), "left")
        .select(
          col("id"),
          col("label"),
          least(col("next"), coalesce(col("jlabel"), col("next"))).as("next"))
        .localCheckpoint()
      // track the new checkpoint for the failure path the moment it is live
      prevCkpt = ckpt
      ckpt = updated
      changed = updated.filter(col("next") < col("label")).count()
      // the previous round's cached blocks are dead once `updated` is
      // materialized (localCheckpoint is eager): free them immediately, or
      // cached blocks accumulate linearly in rounds on large pair graphs
      unpersistCheckpoint(prevCkpt)
      prevCkpt = null
      labels = updated.select(col("id"), col("next").as("label"))
      it += 1
    }
    if (changed != 0)
      throw new IllegalStateException(
        s"connected components did not converge: $changed labels still changing " +
          s"after $maxIters pointer-jumping rounds (diameter would exceed 2^$maxIters)")
    } catch {
      case t: Throwable =>
        unpersistCheckpoint(ckpt)
        if (prevCkpt != null) unpersistCheckpoint(prevCkpt)
        unpersistCheckpoint(sym)
        throw t
    }
    // labels holds exactly the edge-adjacent nodes; everything else is its
    // own singleton cluster
    val singletons = nodeIds
      .join(labels, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    // the returned frame reads only the FINAL round's checkpoint (labels) and
    // the caller's node frame — the symmetrized edge cache is out of lineage
    unpersistCheckpoint(sym)
    (labels.select(col("id"), col("label").as("cluster_id")).unionByName(singletons), it)
  }

  /** LSH candidates over (id, text), verified by sorted-shingle merge. */
  private def verifiedPairs(
      docsDf: DataFrame,
      threshold: Double,
      numHashes: Int,
      bands: Int,
      shingleK: Int): DataFrame = {
    val cands = minhashCandidates(docsDf, "id", "text", numHashes, bands, shingleK)
    // shingle sets computed once per document (materialized: joined twice),
    // pairs verified by sorted-array merge
    val docs = widen(docsDf)
      .select(col("id"), shinglesUdf(col("text"), lit(shingleK)).as("sh"))
      .localCheckpoint()
    cands
      .join(docs.as("da"), col("id_a") === col("da.id"))
      .join(docs.as("db"), col("id_b") === col("db.id"))
      .select(
        col("id_a"),
        col("id_b"),
        jaccardSortedUdf(col("da.sh"), col("db.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * SimHash candidate pairs with Hamming distance <= maxHamming (<= 3):
   * the 64-bit signature is cut into 4 16-bit blocks; by pigeonhole, any
   * pair within Hamming distance 3 shares at least one exact block.
   *
   * Exact duplicates are pre-collapsed to one representative per canonical
   * fingerprint BEFORE the signature self-join (the same treatment as
   * [[nearDuplicatePairs]]): identical canonical texts have identical
   * signatures, so a text duplicated 10^4 times would otherwise put 10^4
   * identical rows into the same blocks — ~4*C(10^4,2) join rows on one
   * reducer. Group members are re-expanded afterwards (intra-group pairs
   * have Hamming distance exactly 0; cross-group member pairs inherit their
   * representatives' distance); the expansion is linear in the OUTPUT pair
   * count, which is inherent.
   */
  def simhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-block pigeonhole covers Hamming distance <= 3")
    val withFp = df.select(
      col(idCol).as("id"),
      fingerprintUdf(col(textCol)).as("fp"),
      col(textCol).as("text"))
    // one representative (smallest id) per distinct canonical text
    val reps = withFp
      .groupBy(col("fp"))
      .agg(min(struct(col("id"), col("text"))).as("r"))
      .select(col("fp"), col("r.id").as("id"), col("r.text").as("text"))
      .localCheckpoint()
    val sigs = reps.select(col("id"), simhashUdf(col("text")).as("sig"))
    val blocked = sigs.select(
      col("id"),
      col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("block", "block_val")))
    val repPairs = blocked
      .as("a")
      .join(
        blocked.as("b"),
        col("a.block") === col("b.block") && col("a.block_val") === col("b.block_val") &&
          col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"),
        col("b.id").as("id_b"),
        hammingUdf(col("a.sig"), col("b.sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    val members = withFp.select(col("fp"), col("id")).localCheckpoint()
    // intra-group pairs: identical canonical text => identical signature
    val intra = members
      .as("a")
      .join(members.as("b"), col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), lit(0).as("hamming"))
    // cross-group pairs: expand each surviving representative pair to all
    // (member of A) x (member of B) combinations
    val repFp = reps.select(col("id").as("rid"), col("fp").as("rfp"))
    val cross = repPairs
      .join(repFp.as("fa"), col("id_a") === col("fa.rid"))
      .join(repFp.as("fb"), col("id_b") === col("fb.rid"))
      .join(members.as("ma"), col("fa.rfp") === col("ma.fp"))
      .join(members.as("mb"), col("fb.rfp") === col("mb.fp"))
      .select(
        least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b"),
        col("hamming"))
    intra.unionByName(cross)
  }

  /**
   * Embedding-cosine near-duplicate pairs: sign-LSH candidate generation
   * (linear, shuffles only ids + 32-bit signatures) followed by exact cosine
   * verification at `threshold`. High-cosine pairs collide in many tables,
   * so recall concentrates exactly where near-duplicates live.
   */
  def embeddingNearDuplicates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int = 16,
      tables: Int = 40): DataFrame =
    Similarity
      .signLshCandidatePairs(df, idCol, vecCol, planes, tables)
      .filter(col("cosine") >= threshold)

  /**
   * Exact all-pairs shingle Jaccard >= threshold via a broadcast shingle
   * table: each partition scores its documents against the in-memory corpus
   * with sorted-array merges — parallel across partitions, no join skew
   * (a single-group self-join lands every pair on one reducer). Quadratic;
   * the ground-truth baseline for the LSH path on corpora that fit in
   * executor memory.
   */
  def jaccardPairsAboveBroadcast(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleK: Int = 3,
      maxBroadcastRows: Int = 4000000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val corpus: Array[(Long, Array[Long])] = collectBroadcastable(
      df.select(col(idCol).cast("long"), col(textCol)),
      maxBroadcastRows, "jaccardPairsAboveBroadcast",
      "nearDuplicatePairs (banded MinHash-LSH)")
      .map { r =>
        val h = TextFunctions.shingleHashes(r.getString(1), shingleK)
        java.util.Arrays.sort(h)
        (r.getLong(0), h)
      }
    val bc = spark.sparkContext.broadcast(corpus)
    // widen(): the query side is a CPU-heavy per-row pass (sorted-merge
    // jaccard against the whole broadcast corpus); a single-row-group
    // parquet arrives effectively one partition wide and would run the
    // whole quadratic in one task (round-3 pitfall; no-op at scale)
    widen(df.select(col(idCol).cast("long").as("id"), col(textCol).as("text")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val corpusArr = bc.value
        it.flatMap { case (qid, text) =>
          val qh = TextFunctions.shingleHashes(text, shingleK)
          java.util.Arrays.sort(qh)
          corpusArr.iterator.filter(_._1 > qid).flatMap { case (nid, nh) =>
            var i = 0
            var j = 0
            var inter = 0
            while (i < qh.length && j < nh.length) {
              if (qh(i) == nh(j)) { inter += 1; i += 1; j += 1 }
              else if (qh(i) < nh(j)) i += 1
              else j += 1
            }
            val union = qh.length + nh.length - inter
            val jac =
              if (qh.isEmpty && nh.isEmpty) 1.0
              else if (union == 0) 0.0
              else inter.toDouble / union
            if (jac >= threshold) Some((qid, nid, jac)) else None
          }
        }
      }
      .toDF("id_a", "id_b", "jaccard")
  }

  /**
   * Sampled brute-force ground truth for the LSH path: when the corpus
   * exceeds `maxDocs`, the quadratic all-pairs Jaccard is computed only over
   * a LOCALITY-SENSITIVE document sample — a doc is kept iff the minimum of
   * its salted shingle hashes falls in the sampled residue class. Because
   * near-duplicates (Jaccard j) share their minimum shingle with probability
   * ~ j, both endpoints of a true pair are kept or dropped TOGETHER with
   * probability ~ j/stride (vs 1/stride^2 for an independent doc sample), so
   * the sampled truth retains a meaningful pair population while the
   * quadratic cost drops by stride^2. The salt keeps the sample independent
   * of the MinHash permutations under test. Below `maxDocs` this is the full
   * exact truth.
   */
  def jaccardPairsAboveSampled(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleK: Int = 3,
      maxDocs: Long = 1500L,
      salt: Long = 0x5eed5eedL): DataFrame = {
    val n = df.count()
    if (n <= maxDocs) return jaccardPairsAboveBroadcast(df, idCol, textCol, threshold, shingleK)
    val stride = ((n + maxDocs - 1) / maxDocs).toInt
    val keepUdf = udf((s: String) => {
      val h = TextFunctions.shingleHashes(s, shingleK)
      var m = Long.MaxValue
      var i = 0
      while (i < h.length) {
        val x = graft.sketches.Hashing.hashLong(h(i), salt)
        if (x < m) m = x
        i += 1
      }
      ((m % stride) + stride) % stride == 0
    })
    jaccardPairsAboveBroadcast(
      df.filter(keepUdf(col(textCol))), idCol, textCol, threshold, shingleK)
  }

  /**
   * Exact n-gram Jaccard similarity for all pairs within small groups
   * (e.g. same source) — quadratic within group, linear across groups.
   */
  def groupedJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      shingleK: Int = 3): DataFrame = {
    val docs = df
      .select(
        col(groupCol).as("g"),
        col(idCol).as("id"),
        shinglesUdf(col(textCol), lit(shingleK)).as("sh"))
      .localCheckpoint()
    docs
      .as("a")
      .join(docs.as("b"), col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(
        col("a.g").as("grp"),
        col("a.id").as("id_a"),
        col("b.id").as("id_b"),
        jaccardSortedUdf(col("a.sh"), col("b.sh")).as("jaccard"))
  }
}
