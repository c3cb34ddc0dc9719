package graft.text

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class DedupSparkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.spark.SparkTestSession.spark

  private def docsDf = {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(11L)
    def randText(n: Int, vocabOffset: Int = 0): String =
      (0 until n).map(_ => s"w${vocabOffset + rnd.nextInt(500)}").mkString(" ")
    val originals = (0 until 80).map(i => (i.toLong, randText(120)))
    // exact duplicates of doc 0 and 1
    val exactDups = Seq((1000L, originals(0)._2), (1001L, originals(1)._2))
    // near duplicate of doc 2: ~92% of tokens shared
    val near = {
      val toks = originals(2)._2.split(" ")
      (1002L, (toks.take(110) ++ (0 until 10).map(i => s"extra$i")).mkString(" "))
    }
    // disjoint-vocabulary documents
    val unrelated = (0 until 20).map(i => (2000L + i, randText(120, vocabOffset = 100000)))
    (originals ++ exactDups ++ Seq(near) ++ unrelated).toDF("doc_id", "text")
  }

  test("exact duplicate groups and drop-duplicates") {
    val groups = Dedup.exactDuplicateGroups(docsDf, "doc_id", "text")
    assert(groups.count() == docsDf.count() - 2) // two exact dup rows collapse
    val dups = groups.filter(col("n_docs") > 1).collect()
    assert(dups.length == 2)
    assert(dups.forall(_.getAs[Long]("representative_id") < 1000L))
    val kept = Dedup.dropExactDuplicates(docsDf, "doc_id", "text")
    assert(kept.count() == docsDf.count() - 2)
    assert(kept.filter(col("doc_id").isin(1000L, 1001L)).count() == 0)
  }

  test("minhash LSH finds exact and near duplicates; verified pairs thresholded") {
    val pairs = Dedup.nearDuplicatePairs(docsDf, "doc_id", "text", threshold = 0.7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    assert(pairSet.contains((0L, 1000L)), "exact dup pair 0-1000 missed")
    assert(pairSet.contains((1L, 1001L)), "exact dup pair 1-1001 missed")
    assert(pairSet.contains((2L, 1002L)), "near dup pair 2-1002 missed")
    assert(pairs.forall(_._3 >= 0.7))
    // no pair should bridge the disjoint vocabularies
    assert(!pairs.exists(p => p._1 < 2000 && p._2 >= 2000))
  }

  test("simhash candidates catch exact duplicates within hamming bound") {
    val cands = Dedup.simhashCandidates(docsDf, "doc_id", "text", maxHamming = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(cands.contains((0L, 1000L)))
    assert(cands.contains((1L, 1001L)))
  }

  test("near-dup detection and corpus dedup work with STRING document ids") {
    // regression: an id cast to long would silently null out string ids and
    // return zero pairs
    val strDocs = docsDf.select(
      concat(lit("doc-"), col("doc_id")).as("doc_id"), col("text"))
    val pairs = Dedup.nearDuplicatePairs(strDocs, "doc_id", "text", threshold = 0.7)
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(pairs.contains(("doc-0", "doc-1000")), s"string-id exact dup pair missed: $pairs")
    // lexicographic id ordering: "doc-1002" < "doc-2"
    assert(pairs.contains(("doc-1002", "doc-2")), "string-id near dup pair missed")
    val kept = Dedup.dropNearDuplicates(strDocs, "doc_id", "text", threshold = 0.7).count()
    assert(kept == strDocs.count() - 3)
  }

  test("dropNearDuplicates keeps exactly the min-id representatives") {
    val kept = Dedup.dropNearDuplicates(docsDf, "doc_id", "text", threshold = 0.7)
      .select(col("doc_id"))
      .collect()
      .map(_.getLong(0))
      .toSet
    // exact dups 1000/1001 (of docs 0/1) and near-dup 1002 (of doc 2) dropped
    assert(!kept.contains(1000L) && !kept.contains(1001L) && !kept.contains(1002L))
    assert(kept.contains(0L) && kept.contains(1L) && kept.contains(2L))
    assert(kept.size == docsDf.count() - 3)
  }

  test("skewed corpus: exact-dup collapse keeps LSH candidate generation linear") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(31L)
    def randText(n: Int): String =
      (0 until n).map(_ => s"w${rnd.nextInt(500)}").mkString(" ")
    val hot = randText(100)
    // one text duplicated 10^4 times — the classic LSH bucket-blowup input
    val dups = (0 until 10000).map(i => (100000L + i, hot))
    val uniques = (0 until 200).map(i => (i.toLong, randText(100)))
    val df = (uniques ++ dups).toDF("doc_id", "text")
    // candidate generation over the collapsed corpus is bounded: without the
    // collapse the hot bucket alone would produce C(10^4, 2) ~ 5*10^7 pairs
    val collapsed = Dedup.dropExactDuplicates(df, "doc_id", "text")
    assert(collapsed.count() == 201)
    val nCands = Dedup.minhashCandidates(collapsed, "doc_id", "text").count()
    assert(nCands <= 10 * 201, s"candidate pairs not O(n): $nCands")
    // end-to-end pairs on a smaller duplication factor (the OUTPUT is
    // inherently quadratic in group size; the engine work is not)
    val df2 = (uniques ++ dups.take(300)).toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatePairs(df2, "doc_id", "text", threshold = 0.9)
    val intra = pairs.filter(col("jaccard") === 1.0).count()
    assert(intra >= 300L * 299L / 2, s"intra-group dup pairs missing: $intra")
  }

  test("connected components + clustered dedup keep one doc per transitive cluster") {
    import spark.implicits._
    // CC kernel: two components + isolated nodes
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(nodes, edges)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
    // degenerate graph: no edges at all — every node is its own cluster
    val noEdges = Dedup
      .connectedComponents(nodes, edges.limit(0))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(noEdges == (1L to 7L).map(i => i -> i).toMap)
    // transitive chain T1~T2, T2~T3, T1 !~ T3 (1-gram jaccard 0.818/0.818/0.667)
    def text(lo: Int): String = (lo until lo + 100).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text(0)), (2L, text(10)), (3L, text(20)), (9L, text(5000)))
      .toDF("doc_id", "text")
    val clusters = Dedup
      .nearDuplicateClusters(docs, "doc_id", "text", threshold = 0.75, shingleK = 1)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L),
      s"chain not clustered transitively: $clusters")
    val kept = Dedup
      .dropNearDuplicatesClustered(docs, "doc_id", "text", threshold = 0.75, shingleK = 1)
      .select(col("doc_id"))
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(kept == Set(1L, 9L), s"clustered dedup kept $kept")
  }

  test("simhash: exact-dup pre-collapse keeps the signature self-join linear") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(57L)
    def randText(n: Int): String =
      (0 until n).map(_ => s"w${rnd.nextInt(500)}").mkString(" ")
    val hot = randText(100)
    // one text duplicated 10^4 times — the signature self-join would put 10^4
    // identical rows into the same 4 blocks (~4*C(10^4,2) join rows on one
    // reducer) without the representative collapse
    val dups = (0 until 10000).map(i => (100000L + i, hot))
    val uniques = (0 until 200).map(i => (i.toLong, randText(100)))
    val df = (uniques ++ dups).toDF("doc_id", "text")
    // cross-group candidates (hamming > 0) come from the collapsed
    // representative join: bounded by representative collisions, independent
    // of the duplication factor (the hamming=0 branch is pruned by the
    // constant-folded filter, so this runs without materializing the
    // inherent C(10^4,2) intra-group output)
    val cross = Dedup.simhashCandidates(df, "doc_id", "text")
      .filter(col("hamming") > 0)
      .count()
    assert(cross <= 10 * 201, s"cross-group candidates not O(n): $cross")
    // end-to-end at a smaller duplication factor: intra-group pairs are
    // complete (hamming 0) and exact-dup pairs survive the collapse
    val df2 = (uniques ++ dups.take(100)).toDF("doc_id", "text")
    val cands = Dedup.simhashCandidates(df2, "doc_id", "text")
    val intra = cands.filter(col("hamming") === 0).count()
    assert(intra >= 100L * 99L / 2, s"intra-group dup pairs missing: $intra")
  }

  test("sampled brute-force truth: pair-preserving, threshold-correct, full below cap") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(41L)
    def randText(n: Int): String =
      (0 until n).map(_ => s"w${rnd.nextInt(2000)}").mkString(" ")
    // 4000 docs with 60 planted near-dup pairs (>= ~0.9 jaccard)
    val originals = (0 until 4000).map(i => (i.toLong, randText(80)))
    val planted = (0 until 60).map { i =>
      val toks = originals(i * 10)._2.split(" ")
      (10000L + i, (toks.take(76) ++ (0 until 4).map(j => s"x$i$j")).mkString(" "))
    }
    val df = (originals ++ planted).toDF("doc_id", "text")
    val sampled = Dedup
      .jaccardPairsAboveSampled(df, "doc_id", "text", threshold = 0.8, maxDocs = 1000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every reported pair is genuinely above threshold (verified kernel-side)
    val byId = (originals ++ planted).toMap
    sampled.foreach { case (a, b, j) =>
      val exact = TextFunctions.shingleJaccard(byId(a), byId(b), 3)
      assert(math.abs(j - exact) < 1e-12 && exact >= 0.8, s"pair ($a,$b)")
    }
    // the locality-sensitive sample keeps both endpoints together: with
    // stride ceil(4060/1000)=5 and pair survival ~ j/stride, expect ~10 of
    // the 60 planted pairs; require a healthy floor (prob of <3 is tiny)
    val plantedFound = sampled.count { case (a, b, _) => b >= 10000L || a >= 10000L }
    assert(plantedFound >= 3, s"only $plantedFound planted pairs survived sampling")
    // below the cap the truth is the FULL brute force
    val small = (originals.take(300) ++ planted.take(10)).toDF("doc_id", "text")
    val full = Dedup
      .jaccardPairsAboveSampled(small, "doc_id", "text", threshold = 0.8, maxDocs = 1000L)
      .count()
    assert(full >= 10, s"full truth below cap missed planted pairs: $full")
  }

  test("candidate generation plans as equi-joins — no cartesian/BNLJ anywhere") {
    // the 100 TB shape requirement: every self-join must key on band/block
    // hashes (shuffled equi-join), never degenerate to an all-pairs join
    val plans = Seq(
      Dedup.minhashCandidates(docsDf, "doc_id", "text")
        .queryExecution.sparkPlan.toString,
      Dedup.simhashCandidates(docsDf, "doc_id", "text")
        .queryExecution.sparkPlan.toString,
      Similarity.signLshCandidatePairs(vecsForPlan, "vec_id", "embedding")
        .queryExecution.sparkPlan.toString)
    plans.foreach { p =>
      assert(!p.contains("CartesianProduct"), s"cartesian product in plan:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n$p")
    }
  }

  private def vecsForPlan = {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(3L)
    (0 until 50).map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("connected components: 200-node chain converges in O(log n) rounds") {
    import spark.implicits._
    // a similarity CHAIN of diameter 199 — plain one-hop min-label
    // propagation needs 199 rounds (and the old maxIters=25 hard-failed);
    // pointer jumping must close it in ~log2 rounds
    val n = 200
    val nodes = (0 until n).map(_.toLong).toDF("id")
    val edges = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(nodes, edges)
    val cc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == n && cc.values.forall(_ == 0L),
      s"chain not fully labeled with the component minimum")
    assert(rounds <= 12, s"200-chain took $rounds rounds — pointer jumping not effective")
    // per-round checkpoints must be FREED as rounds supersede them: after ~9
    // rounds only the final label checkpoint may remain cached (the edge
    // cache and every superseded round are unpersisted)
    val cachedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(cachedAfter - cachedBefore <= 1,
      s"CC leaked cached RDDs: $cachedBefore -> $cachedAfter over $rounds rounds")
    // and the worst-case ORDER still holds: doubling the chain adds ~1 round
    val nodes2 = (0 until 2 * n).map(_.toLong).toDF("id")
    val edges2 = (0 until 2 * n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val (_, rounds2) = Dedup.connectedComponentsWithRounds(nodes2, edges2)
    assert(rounds2 <= rounds + 2, s"rounds not logarithmic: $rounds -> $rounds2")
  }

  test("pairGraphShuffleWidth scales with rows and clamps to [floor, 4x parallelism]") {
    // driver-query regime: sf0.01/sf0.1 corpora stay at the floor (the
    // measured fixed-cost win), larger corpora grow with the data
    assert(Dedup.pairGraphShuffleWidth(500L, 32) == 8)
    assert(Dedup.pairGraphShuffleWidth(5000L, 32) == 8)
    assert(Dedup.pairGraphShuffleWidth(100000L, 32) == 25) // ceil(100000/4096)
    assert(Dedup.pairGraphShuffleWidth(10000000L, 32) == 128) // cap = 4*32
    assert(Dedup.pairGraphShuffleWidth(10000000L, 1024) == 2442) // under a bigger cluster's cap
    assert(Dedup.pairGraphShuffleWidth(0L, 1) == 8)
    assert(Dedup.pairGraphShuffleWidth(Long.MaxValue, 1000000) == 4000000)
    // streaming-state regime (coarser target): local event tables stay at 8
    assert(Dedup.pairGraphShuffleWidth(100000L, 32, targetRowsPerTask = 50000L) == 8)
    assert(Dedup.pairGraphShuffleWidth(10000000L, 32, targetRowsPerTask = 50000L) == 128)
  }

  test("broadcast exact baselines fail fast past the corpus row cap") {
    import spark.implicits._
    val docs = (0 until 10).map(i => (i.toLong, s"doc number $i words")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.jaccardPairsAboveBroadcast(docs, "doc_id", "text", 0.5, maxBroadcastRows = 4)
    }
    assert(e1.getMessage.contains("nearDuplicatePairs"), e1.getMessage)
    val vecs = (0 until 10).map(i => (i.toLong, Seq.fill(4)(i.toFloat))).toDF("id", "v")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.cosineTopKBroadcast(vecs, vecs, "id", "v", 3, maxBroadcastRows = 4)
    }
    assert(e2.getMessage.contains("ivfCosineTopK"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Similarity.cosinePairsAbove(vecs, "id", "v", 0.9, maxBroadcastRows = 4)
    }
    assert(e3.getMessage.contains("embeddingNearDuplicates"), e3.getMessage)
    // under the cap the baselines still run
    assert(Dedup.jaccardPairsAboveBroadcast(docs, "doc_id", "text", 0.99).count() == 0L)
  }

  test("widen width probe launches NO Spark job (plan metadata only)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_widen").toString
    try {
      docsDf.write.parquet(s"$tmp/docs")
      // a derived frame (scan + filter + projection + union): the old
      // df.rdd.getNumPartitions probe under AQE could execute lineage stages
      val read = spark.read.parquet(s"$tmp/docs")
      val derived = read
        .filter(col("doc_id") >= 0)
        .select(col("doc_id"), col("text"))
        .unionByName(read.filter(col("doc_id") < 0).select(col("doc_id"), col("text")))
      val recorder = graft.spark.JobRecorder.attach(spark.sparkContext)
      try {
        val w = Dedup.planWidth(derived)
        assert(w > 0)
        // a job the probe ran would have posted its start event before the
        // probe returned; draining the bus processes it
        recorder.drain()
        val jobs = recorder.snapshot.jobs
        assert(jobs == 0L, s"width probe launched $jobs job(s)")
      } finally spark.sparkContext.removeSparkListener(recorder)
      // a frame whose plan contains a shuffle reports that shuffle's width
      assert(Dedup.planWidth(read.repartition(16)) == 16)
      assert(Dedup.planWidth(read.repartition(2)) == 2)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("grouped jaccard pairs are exact and complete within groups") {
    import spark.implicits._
    val df = Seq(
      ("g1", 1L, "a b c d e f"),
      ("g1", 2L, "a b c d e g"),
      ("g1", 3L, "x y z w v u"),
      ("g2", 4L, "p q r s t u")).toDF("src", "doc_id", "text")
    val pairs = Dedup.groupedJaccardPairs(df, "doc_id", "text", "src")
    assert(pairs.count() == 3) // C(3,2) within g1, none across groups
    val j12 = pairs.filter(col("id_a") === 1 && col("id_b") === 2).collect()(0).getDouble(3)
    // 4 shingles each, 3 shared => 3/5
    assert(math.abs(j12 - 0.6) < 1e-9)
  }
}

class SimilaritySparkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.spark.SparkTestSession.spark

  private def vecsDf = {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(21L)
    val dim = 32
    // 10 cluster centers, 20 points each, gaussian noise
    val centers = Array.fill(10, dim)(rnd.nextGaussian().toFloat)
    val rows = for {
      c <- 0 until 10
      i <- 0 until 20
    } yield {
      val v = centers(c).map(x => x + 0.15f * rnd.nextGaussian().toFloat)
      ((c * 20 + i).toLong, v.toSeq, c)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("brute-force cosine top-k: neighbors come from the same cluster") {
    val top1 = Similarity
      .cosineTopK(vecsDf.limit(30), vecsDf, "vec_id", "embedding", k = 1)
      .collect()
    assert(top1.length == 30)
    // same cluster = same id/20 bucket
    val sameCluster = top1.count(r => r.getLong(0) / 20 == r.getLong(1) / 20)
    assert(sameCluster >= 28, s"only $sameCluster/30 top-1 neighbors in-cluster")
  }

  test("broadcast top-k is identical to the Catalyst cross-join top-k") {
    val a = Similarity
      .cosineTopK(vecsDf.limit(40), vecsDf, "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    val b = Similarity
      .cosineTopKBroadcast(vecsDf.limit(40), vecsDf, "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(a == b)
  }

  test("distributed top-k (broadcast join + bounded agg) is identical, no driver collect") {
    val base = Similarity
      .cosineTopK(vecsDf.limit(40), vecsDf, "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    val dist = Similarity
      .cosineTopKDistributed(vecsDf.limit(40), vecsDf, "vec_id", "embedding", k = 3)
    val got = dist
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(base == got)
    // the corpus side must be an executor-side broadcast exchange, and the
    // top-k must partial-aggregate (map-side combine bounds the shuffle to
    // k rows per query per partition)
    val plan = dist.queryExecution.sparkPlan.toString
    assert(plan.contains("Broadcast"), plan.take(500))
    assert(plan.contains("ObjectHashAggregate"), plan.take(500))
  }

  test("embedding near-duplicate pairs: LSH recall >=90% vs exact pairs") {
    val exact = Similarity
      .cosinePairsAbove(vecsDf, "vec_id", "embedding", threshold = 0.9)
      .select(col("id_a"), col("id_b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(exact.nonEmpty, "clustered vectors must contain cosine>=0.9 pairs")
    val found = Dedup
      .embeddingNearDuplicates(vecsDf, "vec_id", "embedding", threshold = 0.9)
      .select(col("id_a"), col("id_b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(found.subsetOf(exact), "verified pairs must be exact-cosine filtered")
    val recall = exact.intersect(found).size.toDouble / exact.size
    assert(recall >= 0.9, s"near-dup recall $recall over ${exact.size} true pairs")
  }

  test("sign-LSH candidates are input-partitioning invariant (widen-if-narrow)") {
    // a 1-partition input (the small-parquet shape) takes the internal
    // widening path; results must be identical to an already-wide input
    def pairs(df: org.apache.spark.sql.DataFrame) = Similarity
      .signLshCandidatePairs(df, "vec_id", "embedding")
      .select(col("id_a"), col("id_b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs(vecsDf.coalesce(1)) == pairs(vecsDf.repartition(8)))
  }

  test("IVF ANN (distributed index build) top-1 recall and determinism") {
    val exact = Similarity
      .cosineTopKBroadcast(vecsDf, vecsDf, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    def run() = Similarity
      .ivfCosineTopK(vecsDf, "vec_id", "embedding", k = 1, centroids = 16, probes = 6)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val approx = run()
    assert(approx == run(), "IVF result must be deterministic")
    val recall = exact.count { case (q, n) => approx.get(q).contains(n) }.toDouble / exact.size
    assert(recall >= 0.6, s"IVF top-1 recall $recall")
  }

  test("IVF ANN with fully-distributed k-means training matches recall + determinism") {
    val exact = Similarity
      .cosineTopKBroadcast(vecsDf, vecsDf, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    def run() = Similarity
      .ivfCosineTopK(vecsDf, "vec_id", "embedding", k = 1, centroids = 16, probes = 6,
        distributedTraining = true)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val approx = run()
    assert(approx == run(), "distributed-training IVF must be deterministic")
    val recall = exact.count { case (q, nb) => approx.get(q).contains(nb) }.toDouble / exact.size
    assert(recall >= 0.6, s"IVF (distributed training) top-1 recall $recall")
  }

  test("IVF bucket-size cap splits skewed buckets without changing results") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(99L)
    val dim = 16
    // heavily skewed corpus: one tight cluster holds 300 of 370 points, so
    // at most 4 centroids some bucket must exceed the cap of 50
    val hotCenter = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val others = Array.fill(7, dim)(rnd.nextGaussian().toFloat)
    val rows =
      (0 until 300).map(i =>
        (i.toLong, hotCenter.map(x => x + 0.05f * rnd.nextGaussian().toFloat).toSeq)) ++
        (0 until 70).map(i =>
          ((1000 + i).toLong, others(i % 7).map(x => x + 0.05f * rnd.nextGaussian().toFloat).toSeq))
    val df = rows.toDF("vec_id", "embedding")
    val model = Similarity.trainIvfModel(
      df, "vec_id", "embedding", centroids = 4, maxBucketSize = 50)
    assert(model.splits.exists(_ > 1), s"skewed bucket not split: ${model.splits.toSeq}")
    val counts = Similarity.corpusBucketCounts(df, "vec_id", "embedding", model)
    assert(counts.values.max <= 100,
      s"sub-bucket exceeded 2x cap: ${counts.values.max} (counts=$counts)")
    // sub-splitting changes task granularity, not the candidate set: the
    // capped run must be identical to the uncapped one
    def run(cap: Int) = Similarity
      .ivfCosineTopK(df, "vec_id", "embedding", k = 2, centroids = 4, probes = 2,
        maxBucketSize = cap)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(run(50) == run(1 << 20), "sub-splitting changed the result set")
  }

  test("IVF exact bucket counts enforce the cap when the hash-sample misses the skew") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(123L)
    val dim = 8
    // adversarial corpus: the 2000-vector mega-cluster lives ONLY on ids the
    // deterministic hash-sample never selects (hash(id) % stride != 0), so
    // the sample-based bucket-size estimate cannot see the skew — the
    // documented failure mode of the default estimator
    val sampleSize = 100
    val stride = 40 // trainIvfModel: n=4000, sampleSize=100 -> stride 40
    val idsByResidue = spark
      .range(0, 30000)
      .select(col("id"), pmod(hash(col("id")), lit(stride)).as("h"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val invisibleIds = idsByResidue.filter(_._2 != 0).map(_._1).take(2000)
    val spreadIds = idsByResidue.map(_._1).filterNot(invisibleIds.toSet).take(2000)
    val megaCenter = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val spreadCenters = Array.fill(4, dim)(rnd.nextGaussian().toFloat)
    val rows =
      invisibleIds.map(id =>
        (id, megaCenter.map(x => x + 0.05f * rnd.nextGaussian().toFloat).toSeq)) ++
        spreadIds.zipWithIndex.map { case (id, i) =>
          (id, spreadCenters(i % 4).map(x => x + 0.05f * rnd.nextGaussian().toFloat).toSeq)
        }
    val df = rows.toSeq.toDF("vec_id", "embedding")
    assert(df.count() == 4000)
    val cap = 600
    val sampled = Similarity.trainIvfModel(
      df, "vec_id", "embedding", centroids = 4, sampleSize = sampleSize,
      maxBucketSize = cap)
    val exact = Similarity.trainIvfModel(
      df, "vec_id", "embedding", centroids = 4, sampleSize = sampleSize,
      maxBucketSize = cap, exactBucketCounts = true)
    // the sample-based estimate under-splits: some real bucket exceeds the cap
    val sampledMax = Similarity.corpusBucketCounts(df, "vec_id", "embedding", sampled)
      .values.max
    assert(sampledMax > cap,
      s"corpus failed to defeat the hash-sample (max bucket $sampledMax <= $cap)")
    // the exact pass still splits: every sub-bucket within 2x of the cap
    // (hash sub-splitting is uniform, not exact)
    val exactMax = Similarity.corpusBucketCounts(df, "vec_id", "embedding", exact)
      .values.max
    assert(exactMax <= 2L * cap, s"exact-count cap not enforced: max sub-bucket $exactMax")
    assert(exact.splits.exists(_ > 1), s"no bucket split: ${exact.splits.toSeq}")
    // sub-splitting changes task granularity only: results identical
    def run(exactCounts: Boolean) = Similarity
      .ivfCosineTopK(df, "vec_id", "embedding", k = 1, centroids = 4, probes = 2,
        sampleSize = sampleSize, maxBucketSize = cap, exactBucketCounts = exactCounts)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(run(true) == run(false), "exact bucket counts changed the result set")
  }

  test("LSH ANN achieves >=80% top-1 recall vs brute force") {
    val exact = Similarity
      .cosineTopKBroadcast(vecsDf, vecsDf, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val approx = Similarity
      .lshCosineTopK(vecsDf, "vec_id", "embedding", k = 1, planes = 10, tables = 8)
      .select(col("query_id"), col("neighbor_id"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val hits = exact.count { case (q, n) => approx.get(q).contains(n) }
    val recall = hits.toDouble / exact.size
    assert(recall >= 0.8, s"LSH top-1 recall $recall")
  }
}
