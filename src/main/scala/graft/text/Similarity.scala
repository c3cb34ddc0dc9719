package graft.text

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/**
 * Similarity search over an embedding column (array<float>).
 *
 * The exact path (`cosineTopK`) computes dot products with Catalyst
 * higher-order functions (`zip_with` + `aggregate`) — whole-stage codegen,
 * no UDF — and is quadratic: the correctness baseline.
 *
 * The scale path (`lshCosineTopK`) buckets by random-hyperplane sign
 * signatures (Charikar 2002): L independent tables of `planes` bits each;
 * collisions in any table become candidates, candidates are ranked by exact
 * cosine. Cost is linear in rows + candidate pairs, and the bucket join
 * shuffles only (id, table, 32-bit signature).
 */
object Similarity {

  /** L2 norm of a float vector column, in codegen. */
  private def l2norm(vec: Column): Column =
    sqrt(aggregate(vec, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")))

  private def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d),
      (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Cosine as a compiled UDF — same double math as [[cosine]] but without
   * per-row array materialization; used on candidate pairs in the ANN paths
   * and registered as the SQL `cosine_sim`. */
  private[graft] val fastCosineUdf = udf((aSeq: Seq[Float], bSeq: Seq[Float]) => {
    val len = math.min(aSeq.length, bSeq.length)
    val a = new Array[Float](len)
    val b = new Array[Float](len)
    var j = 0
    while (j < len) { a(j) = aSeq(j); b(j) = bSeq(j); j += 1 }
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < len) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  })

  /**
   * Exact top-k cosine neighbors for each query row against the corpus.
   * Returns (query_id, neighbor_id, cosine, rank). Self-pairs excluded when
   * ids collide.
   */
  def cosineTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = q
      .crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /**
   * Exact top-k via a broadcast corpus: each partition scores its queries
   * against the in-memory corpus with primitive double math and keeps a
   * bounded top-k — no pair materialization, no shuffle, no window. The
   * right physical shape whenever the corpus fits in executor memory
   * (classic broadcast-nested-loop with early top-k pruning). Semantics
   * identical to [[cosineTopK]] (ties broken by ascending neighbor id).
   */
  def cosineTopKBroadcast(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxBroadcastRows: Int = 4000000): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val corpusData: Array[(Long, Array[Double], Double)] = Dedup.collectBroadcastable(
      corpus.select(col(idCol).cast("long"), col(vecCol)),
      maxBroadcastRows, "cosineTopKBroadcast",
      "ivfCosineTopK (distributed IVF ANN)")
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        (r.getLong(0), v, math.sqrt(v.map(x => x * x).sum))
      }
    val bc = spark.sparkContext.broadcast(corpusData)
    // widen(): query x corpus dot products are a CPU-heavy per-row pass; a
    // single-row-group parquet arrives effectively one partition wide and
    // would run it in one task (round-3 pitfall; no-op at scale)
    Dedup.widen(
      queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val corpusArr = bc.value
        it.flatMap { case (qid, qvF) =>
          val qv = qvF.map(_.toDouble)
          val qn = math.sqrt(qv.map(x => x * x).sum)
          // bounded top-k: (cosine desc, neighbor_id asc)
          val heap = new java.util.PriorityQueue[(Double, Long)](
            k + 1,
            Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long.reverse))
          var i = 0
          while (i < corpusArr.length) {
            val (nid, nv, nn) = corpusArr(i)
            if (nid != qid) {
              var dot = 0.0
              var d = 0
              val len = math.min(qv.length, nv.length)
              while (d < len) { dot += qv(d) * nv(d); d += 1 }
              val cos = dot / (qn * nn)
              heap.add((cos, nid))
              if (heap.size > k) heap.poll()
            }
            i += 1
          }
          val out = new Array[(Long, Long, Double, Int)](heap.size)
          var rank = heap.size
          while (!heap.isEmpty) {
            val (cos, nid) = heap.poll()
            out(rank - 1) = (qid, nid, cos, rank)
            rank -= 1
          }
          out.iterator
        }
      }
      .toDF("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Bounded top-k aggregate over (cosine, neighbor_id): every partial
   * buffer is trimmed to k entries, so after map-side combine the shuffle
   * carries at most k rows per (query, partition) — a distributed top-k
   * with no global window sort. Ordering (cosine desc, neighbor_id asc)
   * matches [[cosineTopK]]. The result is an array of (neighbor_id,
   * cosine, rank) structs; partial buffers cross the shuffle as packed
   * (cosine, id) pairs. */
  private case class TopKAgg(
      cosine: Expression,
      id: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[ArrayBuffer[(Double, Long)]] {
    private def top(b: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] =
      if (b.length <= k) b
      else ArrayBuffer.from(b.sortBy { case (c, id) => (-c, id) }.take(k))
    override def children: Seq[Expression] = Seq(cosine, id)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("_1", LongType, nullable = false),
      StructField("_2", DoubleType, nullable = false),
      StructField("_3", IntegerType, nullable = false))), containsNull = false)
    override def createAggregationBuffer(): ArrayBuffer[(Double, Long)] = ArrayBuffer.empty
    override def update(
        b: ArrayBuffer[(Double, Long)],
        input: InternalRow): ArrayBuffer[(Double, Long)] = {
      b += ((cosine.eval(input).asInstanceOf[Double], id.eval(input).asInstanceOf[Long]))
      // amortized trim: let the buffer grow a few multiples of k, then cut
      if (b.length >= 4 * k + 16) top(b) else b
    }
    override def merge(
        b1: ArrayBuffer[(Double, Long)],
        b2: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] =
      top(b1 ++= b2)
    override def eval(b: ArrayBuffer[(Double, Long)]): Any =
      new GenericArrayData(
        b.sortBy { case (c, id) => (-c, id) }
          .take(k)
          .zipWithIndex
          .map { case ((c, id), i) => InternalRow(id, c, i + 1) }
          .toArray[Any])
    override def serialize(b: ArrayBuffer[(Double, Long)]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(16 * b.length)
      b.foreach { case (c, id) => buf.putDouble(c).putLong(id) }
      buf.array()
    }
    override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Double, Long)] = {
      val buf = java.nio.ByteBuffer.wrap(bytes)
      ArrayBuffer.fill(bytes.length / 16)((buf.getDouble, buf.getLong))
    }
    override def withNewMutableAggBufferOffset(n: Int): TopKAgg =
      copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): TopKAgg =
      copy(inputAggBufferOffset = n)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKAgg =
      copy(cosine = c(0), id = c(1))
    override def prettyName: String = "cosine_top_k"
  }

  /**
   * Exact top-k with nothing routed through the driver: the corpus ships to
   * executors as a `broadcast()` join side (executor-side exchange — no
   * driver-side collect, unlike [[cosineTopKBroadcast]]), pairs are scored
   * with the compiled cosine UDF, and a bounded top-k aggregator
   * (partial+final ObjectHashAggregate, <= k rows per query per partition
   * after map-side combine) replaces the global window sort of
   * [[cosineTopK]]. Results are identical to both exact variants (ties by
   * ascending neighbor id). The brute-force scoring stays quadratic — this
   * is the exact baseline's scale-safe HARNESS; the sub-quadratic answer is
   * [[ivfCosineTopK]].
   */
  def cosineTopKDistributed(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("cv"))
    def topk(cosine: Column, id: Column): Column = ColumnBridge.column(
      TopKAgg(ColumnBridge.expression(cosine), ColumnBridge.expression(id), k)
        .toAggregateExpression())
    q.join(broadcast(c), col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        fastCosineUdf(col("qv"), col("cv")).as("cosine"))
      .groupBy(col("query_id"))
      .agg(topk(col("cosine"), col("neighbor_id")).as("nb"))
      .select(col("query_id"), explode(col("nb")).as("e"))
      .select(
        col("query_id"),
        col("e._1").as("neighbor_id"),
        col("e._2").as("cosine"),
        col("e._3").as("rank"))
  }

  /**
   * Exact all-pairs with cosine >= threshold via the broadcast corpus
   * (emitted once, id_a < id_b). Quadratic — the ground-truth baseline for
   * the LSH near-duplicate path.
   */
  def cosinePairsAbove(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBroadcastRows: Int = 4000000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val corpusData: Array[(Long, Array[Double], Double)] = Dedup.collectBroadcastable(
      df.select(col(idCol).cast("long"), col(vecCol)),
      maxBroadcastRows, "cosinePairsAbove",
      "Dedup.embeddingNearDuplicates (sign-LSH candidates + exact verify)")
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        (r.getLong(0), v, math.sqrt(v.map(x => x * x).sum))
      }
    val bc = spark.sparkContext.broadcast(corpusData)
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val corpusArr = bc.value
        it.flatMap { case (qid, qvF) =>
          val qv = qvF.map(_.toDouble)
          val qn = math.sqrt(qv.map(x => x * x).sum)
          corpusArr.iterator.filter(_._1 > qid).flatMap { case (nid, nv, nn) =>
            var dot = 0.0
            var d = 0
            val len = math.min(qv.length, nv.length)
            while (d < len) { dot += qv(d) * nv(d); d += 1 }
            val cos = dot / (qn * nn)
            if (cos >= threshold) Some((qid, nid, cos)) else None
          }
        }
      }
      .toDF("id_a", "id_b", "cosine")
  }

  /** Deterministic gaussian hyperplanes: planes(table)(plane)(dim). */
  private def hyperplanes(tables: Int, planes: Int, dim: Int, seed: Long): Array[Array[Array[Double]]] = {
    def splitmix(state: Long): Long = {
      var z = state + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.tabulate(tables, planes, dim) { (t, p, d) =>
      // Box-Muller over two deterministic uniforms
      val s1 = splitmix(seed ^ (t.toLong << 40) ^ (p.toLong << 20) ^ d.toLong)
      val s2 = splitmix(s1)
      val u1 = math.max(1e-12, (s1 >>> 11) * 1.1102230246251565e-16)
      val u2 = (s2 >>> 11) * 1.1102230246251565e-16
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
  }

  /**
   * Sign-LSH candidate pairs (undirected, id_a < id_b) scored with exact
   * cosine — the linear-cost candidate generator behind embedding
   * near-duplicate detection. Only ids + 32-bit signatures shuffle.
   *
   * Default geometry (16 planes x 40 tables) is tuned for CLUSTERED
   * corpora: per-table collision probability is (1 - acos(c)/pi)^planes, so
   * at 16 planes a true near-dup pair (cosine 0.95) collides somewhere with
   * probability ~0.9996 (~0.97 at 0.9), while a merely-correlated pair at
   * cosine 0.6 — the body of an embedding cluster — collides in only ~6% of
   * the corpus. Coarser geometry (8 planes) degenerates to near-all-pairs
   * candidates on clustered data: the bucket join, not the verification,
   * is then the quadratic cost.
   */
  def signLshCandidatePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Int = 16,
      tables: Int = 40,
      seed: Long = 7L): DataFrame = {
    val dim = df.select(size(col(vecCol))).first().getInt(0)
    val hp = hyperplanes(tables, planes, dim, seed)
    val sigUdf = signatureUdf(hp)
    // a small parquet file arrives as 1-2 partitions: the signature pass
    // (the CPU-heavy part) would then run on one core. Widen only when
    // narrower than the cluster default — at scale the input is already
    // wide and no shuffle is added (and the width probe is plan metadata,
    // not an RDD materialization: see Dedup.planWidth).
    val input = Dedup.widen(df)
    // the compact (id, sigs) table is MATERIALIZED once: exploding directly
    // over the UDF inlines it into the Generate, re-evaluating the whole
    // `tables x planes x dim` signature per OUTPUT row (measured `tables`-x
    // slower), and the self-join + vector joins would recompute it 4x more.
    // ~8B x tables per row — smaller than the bucket shuffle it feeds.
    val sigs = input
      .select(col(idCol).as("id"), sigUdf(col(vecCol)).as("sigs"))
      .localCheckpoint()
    val buckets = sigs.select(col("id"), posexplode(col("sigs")).as(Seq("table", "sig")))
    val cands = buckets
      .as("a")
      .join(
        buckets.as("b"),
        col("a.table") === col("b.table") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    cands
      .join(vecs.as("qa"), col("id_a") === col("qa.id"))
      .join(vecs.as("qb"), col("id_b") === col("qb.id"))
      .select(col("id_a"), col("id_b"), fastCosineUdf(col("qa.v"), col("qb.v")).as("cosine"))
  }

  private def signatureUdf(hp: Array[Array[Array[Double]]]) =
    udf((vecSeq: Seq[Float]) => {
      // one unboxing pass up front: the tables x planes x dim inner loop
      // over a boxed Seq accessor costs ~100x a primitive-array loop
      val vec = new Array[Float](vecSeq.length)
      var i = 0
      while (i < vec.length) { vec(i) = vecSeq(i); i += 1 }
      val out = new Array[Int](hp.length)
      var t = 0
      while (t < hp.length) {
        val tbl = hp(t)
        var sig = 0
        var p = 0
        while (p < tbl.length) {
          var s = 0.0
          val plane = tbl(p)
          val n = math.min(plane.length, vec.length)
          var d = 0
          while (d < n) {
            s += plane(d) * vec(d)
            d += 1
          }
          if (s >= 0) sig |= (1 << p)
          p += 1
        }
        out(t) = sig
        t += 1
      }
      out
    })

  /**
   * Approximate top-k cosine neighbors via sign-LSH bucketing; recall grows
   * with `tables`. Returns (query_id, neighbor_id, cosine, rank).
   */
  def lshCosineTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Int = 12,
      tables: Int = 6,
      seed: Long = 7L): DataFrame = {
    val dim = df.select(size(col(vecCol))).first().getInt(0)
    val hp = hyperplanes(tables, planes, dim, seed)
    val sigUdf = signatureUdf(hp)
    val sigs = df.select(col(idCol).as("id"), col(vecCol).as("v"), sigUdf(col(vecCol)).as("sigs"))
    val buckets = sigs.select(
      col("id"),
      posexplode(col("sigs")).as(Seq("table", "sig")))
    val cands = buckets
      .as("a")
      .join(
        buckets.as("b"),
        col("a.table") === col("b.table") && col("a.sig") === col("b.sig") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("query_id"), col("b.id").as("neighbor_id"))
      .distinct()
    val vecs = sigs.select(col("id"), col("v"))
    val scored = cands
      .join(vecs.as("qa"), col("query_id") === col("qa.id"))
      .join(vecs.as("qb"), col("neighbor_id") === col("qb.id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        fastCosineUdf(col("qa.v"), col("qb.v")).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic spherical k-means (Lloyd's iterations on a driver-side
   * sample) — the IVF coarse quantizer. Returns unit centroids. */
  private[text] def trainCentroids(
      sample: Array[Array[Double]],
      k: Int,
      iters: Int,
      seed: Long): Array[Array[Double]] = {
    require(sample.nonEmpty)
    val dim = sample(0).length
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val unit = sample.map(normalize)
    val rnd = new java.util.SplittableRandom(seed)
    val centroids = Array.tabulate(math.min(k, unit.length))(_ =>
      unit(rnd.nextInt(unit.length)).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      unit.foreach { v =>
        var best = 0
        var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < centroids.length) {
          var d = 0.0
          var i = 0
          while (i < dim) { d += v(i) * centroids(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      for (c <- centroids.indices if counts(c) > 0) {
        centroids(c) = normalize(sums(c))
      }
    }
    centroids
  }

  /**
   * Distributed spherical k-means (Lloyd's): per-iteration treeAggregate of
   * per-centroid vector sums + counts over the (hash-sampled) corpus — the
   * only data that ever reaches the driver is k centroids and the k seed
   * vectors (smallest hash picks, deterministic). Use when centroids x dim
   * or the training sample no longer comfortably fits the driver.
   */
  private[text] def trainCentroidsDistributed(
      sample: org.apache.spark.sql.Dataset[(Long, Array[Float])],
      k: Int,
      iters: Int): Array[Array[Double]] = {
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val spark = sample.sparkSession
    import spark.implicits._
    // normalize column names: callers may pass (id, v)-named datasets, and
    // the seed query below orders by the first column by name
    val tupled = sample.toDF("_1", "_2").as[(Long, Array[Float])]
    // the bounded sample feeds the seed query plus every Lloyd iteration —
    // cache it so the corpus scan + hash filter run once, not iters+1 times
    val cached = tupled.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try trainOnCached(cached, k, iters, normalize)
    finally cached.unpersist(blocking = false)
  }

  private def trainOnCached(
      sample: org.apache.spark.sql.Dataset[(Long, Array[Float])],
      k: Int,
      iters: Int,
      normalize: Array[Double] => Array[Double]): Array[Array[Double]] = {
    import org.apache.spark.sql.functions.hash
    val spark = sample.sparkSession
    // deterministic seeding: the k sample vectors with the smallest id-hash
    val seeds = sample
      .orderBy(hash(col("_1")), col("_1"))
      .limit(k)
      .collect()
      .map(r => normalize(r._2.map(_.toDouble)))
    require(seeds.nonEmpty, "empty k-means sample")
    var centroids = seeds
    val dim = centroids(0).length
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val (sums, counts) = sample.rdd.treeAggregate(
        (Array.fill(centroids.length)(new Array[Double](dim)),
          new Array[Long](centroids.length)))(
        seqOp = { case ((s, c), (_, vF)) =>
          val v = normalize(vF.map(_.toDouble))
          val best = nearestCentroid(bc.value, v)
          var i = 0
          while (i < dim && i < v.length) { s(best)(i) += v(i); i += 1 }
          c(best) += 1
          (s, c)
        },
        combOp = { case ((s1, c1), (s2, c2)) =>
          var j = 0
          while (j < s1.length) {
            var i = 0
            while (i < dim) { s1(j)(i) += s2(j)(i); i += 1 }
            c1(j) += c2(j)
            j += 1
          }
          (s1, c1)
        })
      bc.destroy()
      centroids = centroids.indices.map { j =>
        if (counts(j) > 0) normalize(sums(j)) else centroids(j)
      }.toArray
    }
    centroids
  }

  /** Nearest-centroid index of `v` under unit centroids `cents`. */
  private def nearestCentroid(cents: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      var d = 0.0
      var i = 0
      val cc = cents(c)
      while (i < cc.length && i < v.length) { d += cc(i) * v(i); i += 1 }
      if (d > bestDot) { bestDot = d; best = c }
      c += 1
    }
    best
  }

  /** Indices of the `n` centroids with largest dot product against `v`. */
  private def topCentroids(cents: Array[Array[Double]], v: Array[Double], n: Int): Array[Int] = {
    val dots = Array.tabulate(cents.length) { c =>
      var d = 0.0
      var i = 0
      val cc = cents(c)
      while (i < cc.length && i < v.length) { d += cc(i) * v(i); i += 1 }
      (c, d)
    }
    dots.sortBy(t => (-t._2, t._1)).take(n).map(_._1)
  }

  /** Trained IVF coarse quantizer: unit centroids plus the per-centroid
   * sub-split factor that caps inverted-list (bucket) size. */
  private[text] final case class IvfModel(cents: Array[Array[Double]], splits: Array[Int])

  /** Sub-split factors: bucket b is hash-split into ceil(estSize/max) parts
   * so one mega-bucket (skewed centroid) can't become one straggler task. */
  private[text] def bucketSplits(estSizes: Array[Long], maxBucketSize: Int): Array[Int] =
    estSizes.map(sz => math.max(1L, (sz + maxBucketSize - 1) / maxBucketSize).toInt)

  /** Deterministic sub-bucket of corpus row `id` within bucket `b`. */
  private[text] def subBucket(id: Long, nSplits: Int): Int =
    if (nSplits <= 1) 0
    else java.lang.Math.floorMod(graft.sketches.Hashing.hashLong(id, 0xb0cce7L).toInt, nSplits)

  /**
   * Trains the IVF coarse quantizer on a deterministic hash-sample (bounded
   * driver memory at any corpus size) and estimates bucket sizes from the
   * same sample to derive sub-split factors. With `distributedTraining`,
   * Lloyd's iterations run as treeAggregates and only the k centroids ever
   * reach the driver.
   *
   * With `exactBucketCounts`, bucket sizes come from one extra MAP-ONLY pass
   * over the FULL corpus (nearest-centroid per row, count per bucket — only
   * `centroids` longs reach the driver), making the `maxBucketSize` cap
   * unconditional: the default sample-based estimate under-splits a corpus
   * whose skew the hash-sample happens to miss (documented limitation), the
   * exact pass cannot.
   */
  private[text] def trainIvfModel(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Int,
      sampleSize: Int = 100000,
      kmeansIters: Int = 10,
      seed: Long = 17L,
      distributedTraining: Boolean = false,
      maxBucketSize: Int = 1 << 20,
      exactBucketCounts: Boolean = false): IvfModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val ids = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val n = df.count()
    val stride = math.max(1L, n / math.max(1L, sampleSize.toLong)).toInt
    val sampleDs = ids
      .filter(pmod(hash(col("id")), lit(stride)) === 0)
      .as[(Long, Array[Float])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents =
        if (distributedTraining) trainCentroidsDistributed(sampleDs, centroids, kmeansIters)
        else {
          val sample = sampleDs
            .collect()
            .sortBy(_._1)
            .take(sampleSize)
            .map(_._2.map(_.toDouble))
          trainCentroids(sample, centroids, kmeansIters, seed)
        }
      // bucket sizes: by default estimated from the bounded sample (scaled
      // by stride — one cheap extra pass over the sample); with
      // exactBucketCounts, counted exactly over the full corpus (map-only,
      // `centroids` longs to the driver) so the cap holds even when the
      // hash-sample misses the skew
      val bcC = spark.sparkContext.broadcast(cents)
      val estSizes =
        if (exactBucketCounts) {
          val counts = ids.rdd
            .map(r => nearestCentroid(bcC.value, r.getSeq[Float](1).map(_.toDouble).toArray))
            .countByValue()
          Array.tabulate(cents.length)(b => counts.getOrElse(b, 0L))
        } else {
          val sampleCounts = sampleDs.rdd
            .map { case (_, vF) => nearestCentroid(bcC.value, vF.map(_.toDouble)) }
            .countByValue()
          Array.tabulate(cents.length)(b => sampleCounts.getOrElse(b, 0L) * stride)
        }
      bcC.destroy()
      IvfModel(cents, bucketSplits(estSizes, maxBucketSize))
    } finally {
      sampleDs.unpersist(blocking = false)
    }
  }

  /**
   * IVF approximate top-k, fully distributed: the corpus is bucketed by
   * nearest centroid (a broadcast-centroid map — no shuffle), queries fan out
   * to their `probes` nearest buckets, and a single shuffle on the bucket id
   * co-locates each bucket's inverted list with the queries probing it; each
   * bucket task builds its list in memory (~corpus/centroids rows, capped at
   * ~`maxBucketSize` by hash sub-splitting skewed buckets — queries probe all
   * sub-buckets of a probed bucket, so the candidate set is identical to the
   * unsplit plan) and streams its queries through a bounded top-k heap.
   * Per-query partial top-ks (<= probes*k rows each) are then merged by query
   * id. Nothing corpus-sized ever reaches the driver: only the k-means
   * training sample (a deterministic hash-sample capped at `sampleSize`) is
   * collected. Scan fraction ~ probes/centroids. Returns (query_id,
   * neighbor_id, cosine, rank); ties broken by ascending neighbor id.
   */
  def ivfCosineTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Int = 32,
      probes: Int = 8,
      sampleSize: Int = 100000,
      kmeansIters: Int = 10,
      seed: Long = 17L,
      distributedTraining: Boolean = false,
      maxBucketSize: Int = 1 << 20,
      exactBucketCounts: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ids = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val model = trainIvfModel(
      df, idCol, vecCol, centroids, sampleSize, kmeansIters, seed,
      distributedTraining, maxBucketSize, exactBucketCounts)
    val cents = model.cents
    val nProbes = math.min(probes, cents.length)
    val bcCents = spark.sparkContext.broadcast(cents)
    val bcSplits = spark.sparkContext.broadcast(model.splits)

    // corpus rows tagged with their (single) home (bucket, sub-bucket) — map-only
    val corpusB = ids.as[(Long, Array[Float])].mapPartitions { it =>
      val cs = bcCents.value
      val sp = bcSplits.value
      it.map { case (id, vF) =>
        val b = nearestCentroid(cs, vF.map(_.toDouble))
        ((b, subBucket(id, sp(b))), id, vF)
      }
    }
    // queries fan out to every sub-bucket of their nProbes nearest buckets —
    // map-only; sub-splitting changes task granularity, not the candidate set
    val queriesP = ids.as[(Long, Array[Float])].mapPartitions { it =>
      val cs = bcCents.value
      val sp = bcSplits.value
      it.flatMap { case (id, vF) =>
        topCentroids(cs, vF.map(_.toDouble), nProbes).flatMap(b =>
          (0 until sp(b)).map(s => ((b, s), id, vF)))
      }
    }
    // one shuffle on bucket id; per-bucket inverted list + streamed queries
    val partial = corpusB
      .groupByKey(_._1)
      .cogroup(queriesP.groupByKey(_._1)) { (_, cIt, qIt) =>
        val list = cIt.map { case (_, id, vF) =>
          val v = vF.map(_.toDouble)
          (id, v, math.sqrt(v.map(x => x * x).sum))
        }.toArray
        if (list.isEmpty) Iterator.empty
        else qIt.flatMap { case (_, qid, qvF) =>
          val qv = qvF.map(_.toDouble)
          val qn = math.sqrt(qv.map(x => x * x).sum)
          val heap = new java.util.PriorityQueue[(Double, Long)](
            k + 1,
            Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long.reverse))
          var i = 0
          while (i < list.length) {
            val (nid, nv, nn) = list(i)
            if (nid != qid) {
              var dot = 0.0
              var d = 0
              val len = math.min(qv.length, nv.length)
              while (d < len) { dot += qv(d) * nv(d); d += 1 }
              heap.add((dot / (qn * nn), nid))
              if (heap.size > k) heap.poll()
            }
            i += 1
          }
          val out = new Array[(Long, Long, Double)](heap.size)
          var j = heap.size - 1
          while (!heap.isEmpty) {
            val (cos, nid) = heap.poll()
            out(j) = (qid, nid, cos)
            j -= 1
          }
          out.iterator
        }
      }
    // merge per-query partials (each corpus vector lives in exactly one
    // bucket, so no dedup is needed) into the final ranked top-k
    partial
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val heap = new java.util.PriorityQueue[(Double, Long)](
          k + 1,
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long.reverse))
        it.foreach { case (_, nid, cos) =>
          heap.add((cos, nid))
          if (heap.size > k) heap.poll()
        }
        val out = new Array[(Long, Long, Double, Int)](heap.size)
        var rank = heap.size
        while (!heap.isEmpty) {
          val (cos, nid) = heap.poll()
          out(rank - 1) = (qid, nid, cos, rank)
          rank -= 1
        }
        out.iterator
      }
      .toDF("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Per-(bucket, sub-bucket) corpus row counts under a trained model — the
   * observable the bucket-size cap bounds (test/diagnostic helper; the
   * result is at most centroids x splits entries). */
  private[text] def corpusBucketCounts(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel): Map[(Int, Int), Long] = {
    val spark = df.sparkSession
    val bcC = spark.sparkContext.broadcast(model.cents)
    val bcS = spark.sparkContext.broadcast(model.splits)
    val counts = df
      .select(col(idCol).cast("long"), col(vecCol))
      .rdd
      .map { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        val b = nearestCentroid(bcC.value, v)
        (b, subBucket(id, bcS.value(b)))
      }
      .countByValue()
    bcC.destroy()
    bcS.destroy()
    counts.toMap
  }
}
