package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

/** Pins the non-oracle-able (hash-based) pipeline operators: MinHash-LSH,
  * SimHash, and sign-LSH ANN, against exact baselines computed in-engine. */
class PipelineSpec extends AnyFunSuite {
  import TestSession._

  test("MinHash-LSH finds exactly the exact-Jaccard>=0.7 pairs") {
    val lsh = SparkEntry.queries("q65_minhash_lsh")(spark, sf)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SparkEntry.queries("q67_ngram_jaccard")(spark, sf)
      .filter(col("jac") >= 0.7)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"LSH=${lsh.size} exact=${exact.size}")
  }

  test("MinHash library defaults are the high-recall 64 / 16x4 setting") {
    // the cheap 32 / 8x4 setting (~0.954 recall at Jaccard 0.8) is a
    // gate-row pin for the bimodal corpus, never the default a general
    // caller inherits (advisor finding, round 7)
    import spark.implicits._
    val sh = Dedup.shingleHashes(Seq((1L, "a b c d e f g h")).toDF("doc_id", "text"))
    val sigs = Dedup.minhashSignatures(sh)
    assert(sigs.columns.length == 65, s"expect doc_id + 64 sig cols, got ${sigs.columns.length}")
    val bands = Dedup.bandIndex(sigs).select(col("band")).distinct().count()
    assert(bands == 16, s"expect 16 bands by default, got $bands")
  }

  test("incremental dedup == full-corpus pairs restricted to the new batch") {
    // the daily-ingest contract: indexing old once and joining only the
    // new batch must find exactly the full-recompute pairs that touch
    // the new batch (old-old pairs are the already-adjudicated rest)
    val full = SparkEntry.queries("q65_minhash_lsh")(spark, sf)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (a, b) => a % 4 == 0 || b % 4 == 0 }
    val inc = SparkEntry.queries("q201_incremental_dedup")(spark, sf)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == expected, s"incremental=${inc.size} expected=${expected.size}")
    assert(full.exists { case (a, b) => a % 4 != 0 && b % 4 != 0 },
      "restriction is vacuous: no old-old pair exists to exclude")
  }

  test("incremental dedup works off a PERSISTED band index (production path)") {
    val docs = Tables.documents(spark, sf)
    val oldIdx = Dedup.bandIndex(Dedup.minhashSignatures(Dedup.shingleHashes(
      docs.filter(col("doc_id") % 4 =!= 0))))
    val dir = java.nio.file.Files.createTempDirectory("graft_bandidx").toString
    try {
      // snapshot index on disk, partitioned the way a warehouse would keep it
      oldIdx.write.mode("overwrite").partitionBy("band").parquet(dir)
      val persisted = spark.read.parquet(dir)
        .select(col("doc_id"), col("band"), col("bh"))
      val newIdx = Dedup.bandIndex(Dedup.minhashSignatures(Dedup.shingleHashes(
        docs.filter(col("doc_id") % 4 === 0))))
      val live = Dedup.incrementalCandidates(oldIdx, newIdx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val fromDisk = Dedup.incrementalCandidates(persisted, newIdx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fromDisk == live, s"disk=${fromDisk.size} live=${live.size}")
      assert(fromDisk.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("streaming near-dup curation converges to the batch keepers (clique corpus)") {
    // incremental LSH dedup as a stateful stream: each micro-batch is
    // deduped against the kept-set's band index (never old-vs-old), and
    // survivors join the index — the daily-ingest loop as foreachBatch.
    // On a clique corpus (replicas arrive after their originals) the
    // greedy first-arrival policy and the batch connected-components
    // keep-min policy agree, which makes convergence assertable.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def text(b: Int, k: Int) =
      (0 until 12).map(i => s"w${b}t$i").mkString(" ") + (if (k == 0) "" else s" rep$k")
    val corpus = for (b <- 0 until 40; k <- 0 until 3) yield (b * 10L + k, text(b, k))
    val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val in = MemoryStream[(Long, String)]
    val q = in.toDS().toDF("doc_id", "text")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val combined = kept.toSeq.toDF("doc_id", "text").withColumn("is_new", lit(false))
          .unionByName(batch.select(col("doc_id"), col("text")).withColumn("is_new", lit(true)))
        val sh = Dedup.shingleHashes(combined.select(col("doc_id"), col("text")))
        val idx = Dedup.bandIndex(Dedup.minhashSignatures(sh))
          .join(combined.select(col("doc_id"), col("is_new")), Seq("doc_id"))
        val dropped = Dedup.exactJaccard(
            Dedup.incrementalCandidatesFlagged(idx), sh, keepZero = false)
          .filter(col("jac") >= 0.7)
          .select(col("idb")) // greedy: the higher id of a verified pair loses
          .collect().map(_.getLong(0)).toSet
        val survivors = batch.select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
          .filterNot { case (id, _) => dropped.contains(id) }
        kept ++= survivors
        ()
      }
      .start()
    try {
      // originals (k=0) arrive in batch 0, replicas in later batches
      (0 until 3).foreach { k =>
        in.addData(corpus.filter(_._1 % 10 == k)); q.processAllAvailable()
      }
    } finally q.stop()
    // batch ground truth: connected components over verified near-dup
    // pairs, keep the min id per cluster; singletons keep themselves
    val allDf = corpus.toDF("doc_id", "text")
    val shAll = Dedup.shingleHashes(allDf)
    val edges = Dedup.exactJaccard(
        Dedup.lshCandidates(Dedup.minhashSignatures(shAll)), shAll, keepZero = false)
      .filter(col("jac") >= 0.7).select(col("ida"), col("idb"))
    val clustered = Dedup.connectedComponents(edges)
    val clusterKeep = clustered.groupBy(col("comp")).agg(min(col("id")).as("k"))
      .select(col("k")).collect().map(_.getLong(0)).toSet
    val inCluster = clustered.select(col("id")).collect().map(_.getLong(0)).toSet
    val batchKeepers = clusterKeep ++ corpus.map(_._1).filterNot(inCluster.contains)
    assert(kept.map(_._1).toSet == batchKeepers,
      s"streamed kept ${kept.size}, batch keeps ${batchKeepers.size}")
    assert(kept.size == 40, s"expected exactly the 40 originals, got ${kept.size}")
  }

  test("SimHash pairs cover the high-Jaccard near-duplicates") {
    val sim = SparkEntry.queries("q66_simhash")(spark, sf)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nearDups = SparkEntry.queries("q67_ngram_jaccard")(spark, sf)
      .filter(col("jac") >= 0.8)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (nearDups.isEmpty) 1.0
      else nearDups.count(sim.contains).toDouble / nearDups.size
    assert(recall >= 0.9, s"simhash recall $recall over ${nearDups.size} true pairs")
  }

  test("banded SimHash pairing is lossless vs all-pairs and cartesian-free") {
    val sig = Dedup.simhashSignatures(Tables.documents(spark, sf))
    // ground truth: explicit all-pairs hamming scan (the O(n^2) plan the
    // banded bucket join exists to avoid)
    val allPairs = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = SparkEntry.queries("q66_simhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == allPairs, s"banded=${banded.size} allPairs=${allPairs.size}")
    val plan = SparkEntry.queries("q66_simhash")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "banded simhash must not contain an all-pairs join")
  }

  test("ANN LSH top-k has reasonable recall vs brute force") {
    val bf = SparkEntry.queries("q68_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val ann = SparkEntry.queries("q69_ann_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // banded sign-LSH prunes ~3/4 of the corpus; on random vectors recall
    // of the exact top-10 is partial by design — require a meaningful hit
    // rate, and that every query produced candidates.
    assert(ann.keySet == bf.keySet, "ANN lost a query entirely")
    val hits = bf.map { case (q, ids) => ann(q).count(ids.contains) }.sum
    assert(hits >= bf.size, s"ANN found only $hits brute-force-top-10 hits")
  }

  test("IVF ANN probes a fraction of the corpus with meaningful recall") {
    val bf = SparkEntry.queries("q68_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val ivf = SparkEntry.queries("q87_ann_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(ivf.keySet == bf.keySet, "IVF lost a query entirely")
    val hits = bf.map { case (q, ids) => ivf.getOrElse(q, Set.empty).count(ids.contains) }.sum
    assert(hits >= bf.size, s"IVF found only $hits brute-force-top-10 hits")
  }

  test("PQ ANN: ADC shortlist + rerank recalls brute-force neighbors") {
    val bf = SparkEntry.queries("q68_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val pq = SparkEntry.queries("q224_ann_pq")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(pq.keySet == bf.keySet, "PQ lost a query entirely")
    // every query returns a full top-10 (shortlist can't under-fill at
    // this corpus size), and the m-byte codes still recall a meaningful
    // share of the exact top-10
    assert(pq.values.forall(_.size == 10), "PQ under-filled a top-10")
    val hits = bf.map { case (q, ids) => pq(q).count(ids.contains) }.sum
    assert(hits >= bf.size, s"PQ found only $hits brute-force-top-10 hits")
  }

  test("PQ codes: m entries per vector, every code a valid codebook index") {
    // the stored index really is m=8 small codes (8 bytes vs the
    // 64-float column's 256 — the 32x compression PQ exists for)
    val emb = Tables.embeddings(spark, sf)
    val codes = Similarity.pqEncode(emb, m = 8, ks = 16, lloydIters = 1)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(codes.length.toLong == emb.count(), "a vector lost its code")
    assert(codes.forall(_._2.length == 8), "code width != m")
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 16)),
      "code outside the ks=16 codebook")
    // every query answered with a full top-5 at a small m/ks too
    val out = Similarity.pqTopK(emb, m = 4, ks = 8, nQueries = 3,
      k = 5, shortlist = 20, lloydIters = 1).collect()
    assert(out.map(_.getLong(0)).distinct.sorted.toSeq == Seq(0L, 1L, 2L))
    assert(out.groupBy(_.getLong(0)).values.forall(_.length == 5))
  }

  test("sign-LSH near-dup blocking: precision 1, high recall on planted pairs") {
    import spark.implicits._
    // the shipped corpus has no cosine>=0.8 pairs, so plant some: 100
    // seeded base vectors, each with one mildly-noised twin
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 100).map(i => (i.toLong, vec()))
    val twins = base.map { case (i, v) =>
      (i + 1000L, v.map(x => x + (rnd.nextGaussian() * 0.15).toFloat))
    }
    val planted = (base ++ twins).toDF("vec_id", "embedding")
    val exact = planted.as("a").join(planted.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("score",
        round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 6))
      .filter(col("score") >= 0.8)
      .select(col("a.vec_id").as("ida"), col("b.vec_id").as("idb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 80, s"planting failed: only ${exact.size} true pairs")
    val lsh = Similarity.nearDupLsh(planted, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "exact verify must make precision 1.0")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.85, s"recall $recall over ${exact.size} planted pairs")
  }

  test("q111 gate path is plan-native: corpus scan columnar, codegen kept, non-vacuous") {
    // round-4 verdict: the twin-union used to detour through
    // createDataFrame(u.rdd, u.schema) to dodge a lambda/attribute-dedup
    // failure, losing whole-stage codegen and AQE on the gate path — the
    // CORPUS INPUT itself became an RDD scan, hiding the parquet source.
    // The lambda-free perturbedTwins must keep the corpus scan in
    // Catalyst. nearDupLsh's banded SLIVER is pinned by graft.pin
    // (through the shared candidate kernel — AQE does not collapse the
    // duplicated band lineages), which legitimately adds
    // sliver-sized ExistingRDD scans; the round-4 property is that the
    // EMBEDDING source stays a codegen'd columnar FileScan, asserted
    // directly.
    val df = SparkEntry.queries("q111_neardup_lsh")(spark, sf)
    val n = df.collect().length
    // post-execution so AQE has materialized the final codegen'd stages
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet"),
      "corpus input must stay a native columnar scan, not an RDD round-trip")
    assert(plan.contains("*("), // WholeStageCodegen prints as "*(n)" in simpleString
      "gate path must keep whole-stage codegen")
    assert(n >= 450, s"planted twins must surface (got $n pairs)")
  }

  test("q70 planted twins stay within the blocking contract") {
    // every corpus vector pairs with exactly its own twin: natural pairs
    // don't reach 0.8 and twin-twin / cross pairs stay below threshold,
    // so |result| == |corpus| and each pair is (v, v + 10^7).
    val rows = SparkEntry.queries("q70_embedding_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.forall { case (a, b) => b == a + 10000000L },
      s"expected only (v, twin(v)) pairs, got ${rows.take(5).mkString(",")}")
    assert(rows.length == Tables.embeddings(spark, sf).count(),
      "every vector must surface exactly one twin pair")
  }

  test("over-cap LSH buckets emit star cliques; closure recovers the cluster") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = ((0L until 10L).map(i => (i, text)) ++
      Seq((100L, "one two three four five six seven"),
          (101L, "completely different words entirely here now")))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleHashes(docs)
    // ten identical docs share every (band, bh) bucket: size 10 > cap 4,
    // so the bucket contributes a STAR around doc 0 — not 45 quadratic
    // pairs, and crucially not zero pairs (the pre-fix behavior)
    val cands = Dedup.lshCandidates(Dedup.minhashSignatures(sh), maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands == (1L until 10L).map(i => (0L, i)).toSet,
      s"expected star around doc 0, got $cands")
    val comps = Dedup.connectedComponents(cands.toSeq.toDF("ida", "idb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps.keySet == (0L until 10L).toSet && comps.values.toSet == Set(0L),
      "transitive closure must recover the full clique from the star")
  }

  test("banded candidate kernel matches a plain-Scala reference: cap, star, new flag, payload") {
    import spark.implicits._
    val cap = 3
    // (band, bucket) -> member ids: below, at and above the cap; the same
    // bucket value in two bands is two buckets; (6, 9) shows up both as a
    // star edge and as a pairwise edge, so the result must be distinct
    val buckets = Seq(
      (0, 1L) -> Seq(1L, 2L),                    // below cap
      (0, 2L) -> Seq(3L, 4L, 5L),                // at cap
      (0, 3L) -> Seq(6L, 7L, 8L, 9L, 10L),       // over cap, new min 6
      (1, 1L) -> Seq(1L, 6L, 11L, 12L, 13L, 14L), // over cap, old min 1
      (1, 7L) -> Seq(2L, 3L, 9L),                // at cap
      (2, 1L) -> Seq(5L),                        // singleton
      (2, 4L) -> Seq(11L, 12L),                  // below cap, old and new
      (2, 6L) -> Seq(6L, 9L),                    // below cap, repeats a star edge
      (2, 5L) -> Seq(20L, 21L, 22L, 23L),        // over cap, old min 20
      (3, 9L) -> Seq(4L, 7L, 13L, 21L, 22L))     // over cap, old min 4
    def isNew(id: Long) = id % 3 == 0
    def pay(id: Long) = s"v$id"
    val idx = buckets.flatMap { case ((band, bucket), ids) =>
      ids.map(id => (id, band, bucket, pay(id), isNew(id)))
    }.toDF("id", "band", "bucket", "pay", "is_new")
    def reference(incremental: Boolean): Set[(Long, Long, String, String)] =
      buckets.flatMap { case (_, ids) =>
        val keep = (a: Long, b: Long) => !incremental || isNew(a) || isNew(b)
        val edges =
          if (ids.size <= cap) for (a <- ids; b <- ids if a < b) yield (a, b)
          else ids.filter(_ != ids.min).map(b => (ids.min, b))
        edges.filter(keep.tupled)
      }.map { case (a, b) => (a, b, pay(a), pay(b)) }.toSet
    def run(df: org.apache.spark.sql.DataFrame) = {
      assert(df.columns.toSeq == Seq("ida", "idb", "pay_a", "pay_b"))
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      assert(rows.length == rows.toSet.size, "kernel output must be distinct")
      rows.toSet
    }
    val full = reference(incremental = false)
    val inc = reference(incremental = true)
    // non-vacuous: stars from new and old mins, old-old edges to drop
    assert(full.contains((6L, 7L, "v6", "v7")) && full.contains((1L, 11L, "v1", "v11")))
    assert(!inc.contains((1L, 11L, "v1", "v11")) && inc.contains((6L, 7L, "v6", "v7")))
    assert(full.size == 24 && inc.size == 14, s"reference sizes ${full.size} / ${inc.size}")
    assert(run(Dedup.bandedCandidates(idx, cap, payload = Seq("pay"))) == full)
    assert(run(Dedup.bandedCandidates(idx, cap, payload = Seq("pay"),
      isNew = col("is_new"))) == inc)
    // no payload: the same pairs, ids only
    val bare = Dedup.bandedCandidates(idx.select("id", "band", "bucket"), cap)
    assert(bare.columns.toSeq == Seq("ida", "idb"))
    assert(bare.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      full.map(e => (e._1, e._2)))
  }

  test("connectedComponents labels chains and separate components correctly") {
    import spark.implicits._
    // a 5-chain needs multiple propagation rounds; 10-11-12 is disjoint
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
                    (10L, 11L), (12L, 11L)).toDF("ida", "idb")
    val comps = Dedup.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 5L).forall(comps(_) == 1L), s"chain mislabeled: $comps")
    assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L), s"disjoint mislabeled: $comps")
  }

  test("pointer jumping converges a chain far deeper than the round budget") {
    import spark.implicits._
    // an 80-deep path needs ~78 plain propagation rounds — over 2x the
    // maxIters=30 budget; per-round pointer jumping must close it in
    // O(log depth) rounds instead of throwing
    val edges = (1L until 80L).map(i => (i, i + 1)).toDF("ida", "idb")
    val comps = Dedup.connectedComponents(edges, maxIters = 30).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps.size == 80 && comps.values.forall(_ == 1L),
      s"deep chain mislabeled: ${comps.filter(_._2 != 1L)}")
  }

  test("reliable checkpoint mode produces the same labels and writes the dir") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("ida", "idb")
    // the context's dir switches every pin to reliable mode; the shim
    // clears it afterwards so later specs on the shared context stay local
    org.apache.spark.CheckpointDirShim.withCheckpointDir(spark.sparkContext) { dir =>
      val comps = Dedup.connectedComponents(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L), comps.toString)
      // the reliable path must actually have checkpointed to the dir
      def anyFile(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
      assert(anyFile(new java.io.File(dir)), s"no checkpoint files under $dir")
    }
  }

  test("group split is leakage-safe, deterministic, and near the target fractions") {
    import graft.operators.PipelineOps
    val docs = Tables.documents(spark, sf)
    val assigned = PipelineOps.splitAssign(docs, "source")
    // leakage-safety: no source ever straddles two splits
    val straddlers = assigned.groupBy(col("source"))
      .agg(countDistinct(col("split")).as("k")).filter(col("k") > 1)
    assert(straddlers.isEmpty, "a source landed in more than one split")
    // deterministic: re-deriving yields the identical assignment
    val a = assigned.select(col("doc_id"), col("split")).collect()
      .map(r => r.get(0) -> r.getString(1)).toMap
    val b = PipelineOps.splitAssign(docs, "source")
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.get(0) -> r.getString(1)).toMap
    assert(a == b)
    // different salt → a different (still valid) assignment
    val c = PipelineOps.splitAssign(docs, "source", salt = "v2")
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.get(0) -> r.getString(1)).toMap
    assert(a != c, "salt does not vary the split")
    // SOURCE-level fractions approximate 90/5/5 (doc counts can skew
    // with source sizes; the hash is uniform over sources)
    val bySplit = assigned.groupBy(col("split"))
      .agg(countDistinct(col("source")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = bySplit.values.sum.toDouble
    assert(bySplit.getOrElse("train", 0L) / total > 0.75, bySplit.toString)
    assert(bySplit.getOrElse("train", 0L) / total < 0.97, bySplit.toString)
  }

  test("fuzzy pairs: blocking finds every distance-1 pair, refilter kills impostors") {
    import spark.implicits._
    val names = Seq(
      (1L, "alpha"), (2L, "alphb"),   // substitution: dist 1
      (3L, "alph"),                   // deletion of 1: dist 1 to both
      (4L, "ab"), (5L, "ba"),         // transposition: dist 2, shares sigs "a"/"b"
      (6L, "unrelated"),
      (7L, "alpha")                   // exact duplicate: dist 0
    ).toDF("id", "s")
    val got = Dedup.fuzzyPairs(names, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over the same frame = ground truth
    val want = names.as("a").join(names.as("b"), col("a.id") < col("b.id"))
      .filter(levenshtein(col("a.s"), col("b.s")) <= 1)
      .select(col("a.id"), col("b.id"), levenshtein(col("a.s"), col("b.s")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, s"got $got want $want")
    assert(got.contains((1L, 2L, 1)) && got.contains((1L, 3L, 1)) && got.contains((1L, 7L, 0)))
    assert(!got.exists(p => p._1 == 4L && p._2 == 5L), "transposition impostor survived")
    // plan shape: candidates come from a signature equi-join, not a
    // cartesian (the whole point at corpus scale)
    val plan = Dedup.fuzzyPairs(names, "id", "s").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(800))
  }

  test("shingles are distinct per doc and deterministic across runs") {
    val a = Dedup.shingles(Tables.documents(spark, sf)).count()
    val b = Dedup.shingles(Tables.documents(spark, sf)).count()
    assert(a == b && a > 0)
  }

  test("sessionize covers every event exactly once") {
    val sessions = SparkEntry.queries("q73_sessionize")(spark, sf)
    val total = sessions.agg(sum("n_events")).collect()(0).getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("label-noise audit flags a deliberately flipped label") {
    val emb = Tables.embeddings(spark, sf)
    val flipped = emb.withColumn("label",
      when(col("vec_id") === 7, lit(999999L)).otherwise(col("label")))
    val row = Similarity.labelAgreement(flipped, nAudit = 50, k = 10)
      .filter(col("vec_id") === 7).head()
    assert(row.getAs[Long]("n_same") == 0L && row.getAs[Int]("suspect") == 1,
      s"flipped label not flagged: $row")
    // and every audited vector's vote count stays within [0, k]
    val bad = Similarity.labelAgreement(emb, nAudit = 50, k = 10)
      .filter(col("n_same") < 0 || col("n_same") > 10).count()
    assert(bad == 0)
  }

  test("per-source median quality gate keeps exactly the top half by value") {
    val kept = SparkEntry.queries("q232_quality_gate")(spark, sf)
    val all = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        round(graft.operators.TextAnalysis.qualityExpr, 6).as("quality"))
    val dropped = all.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
    // gate property: within each source every dropped quality is strictly
    // below every kept quality, and at least half the docs survive
    val byKept = kept.groupBy("source").agg(
      min("quality").as("min_kept"), count(lit(1)).as("n_kept"))
    val byDrop = dropped.groupBy("source").agg(max("quality").as("max_drop"))
    val joined = byKept.join(byDrop, Seq("source"), "left")
      .join(all.groupBy("source").agg(count(lit(1)).as("n_all")), Seq("source"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val maxDrop = Option(r.getAs[java.lang.Double]("max_drop"))
      maxDrop.foreach(md => assert(md < r.getAs[Double]("min_kept"), r.toString))
      assert(r.getAs[Long]("n_kept") * 2 >= r.getAs[Long]("n_all"), r.toString)
    }
  }

  test("funnel stages partition the view-user population") {
    val stages = SparkEntry.queries("q233_funnel")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(stages.keySet.subsetOf(Set(1, 2, 3)), stages.toString)
    val viewUsers = Tables.events(spark, sf)
      .filter(col("event_type") === "view")
      .select("user_id").distinct().count()
    assert(stages.values.sum == viewUsers, s"$stages vs $viewUsers view-users")
  }

  test("line boilerplate scrub: closed-form corpus, all-dropped doc survives, one broadcast flag join") {
    import spark.implicits._
    // b is boilerplate (3 docs); u* are unique; doc 4 is ALL boilerplate
    val lines = Seq(
      (1L, 0, "b"), (1L, 1, "u1"), (1L, 2, "u2"),
      (2L, 0, "u3"), (2L, 1, "b"),
      (3L, 0, "b"), (3L, 1, "u4"),
      (4L, 0, "b")).toDF("doc_id", "idx", "line")
    val out = graft.operators.PipelineOps
      .lineBoilerplateScrub(lines, "doc_id", "idx", "line", minDf = 3)
    val rows = out.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
       r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped"))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "u1\nu2", 2L, 1L),
      (2L, "u3", 1L, 1L),
      (3L, "u4", 1L, 1L),
      (4L, "", 0L, 1L)))
    // order preservation: kept lines rejoin by idx, not collect order
    val shuffled = Seq((9L, 2, "c"), (9L, 0, "a"), (9L, 1, "bb")).toDF("doc_id", "idx", "line")
    val one = graft.operators.PipelineOps
      .lineBoilerplateScrub(shuffled, "doc_id", "idx", "line", minDf = 2)
      .collect()(0)
    assert(one.getAs[String]("clean_text") == "a\nbb\nc")
    // flag-then-aggregate: ONE broadcast outer join (corpus never
    // reshuffled on the line key), no anti join + resurrect-join pair
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"), plan.take(800))
    assert(!plan.contains("LeftAnti"), plan.take(800))
  }

  test("containment flags a planted quote that symmetric Jaccard misses") {
    import spark.implicits._
    // plant: a long host doc of DISTINCT tokens and a short doc that is a
    // verbatim slice of it (distinct tokens -> distinct shingles, so the
    // two similarity measures genuinely diverge)
    val host = (1 to 240).map(i => s"tok$i").mkString(" ")
    val quote = host.split(" ").slice(10, 25).mkString(" ") // 15-token slice
    val filler = (1 to 30).map(i => s"filler$i unique$i token$i distinct$i never$i").mkString(" ")
    val docs = Seq((1L, host), (2L, quote), (3L, filler)).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, minShared = 3, minContainment = 0.5, maxDf = 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(5))).toMap
    assert(pairs.contains((1L, 2L)),
      s"planted quote pair must be flagged, got ${pairs.keySet}")
    assert(pairs((1L, 2L)) == 1.0, "a verbatim slice has containment exactly 1.0")
    // and the symmetric-jaccard path at its production threshold misses it:
    // the quote's shingles are a tiny fraction of the host's
    val sh = Dedup.shingles(docs)
    val exact = Dedup.exactJaccard(
      Seq((1L, 2L)).toDF("ida", "idb"), sh, keepZero = true)
      .collect()(0).getAs[Double]("jac")
    assert(exact < 0.5, s"jaccard $exact should be small — that is the point of containment")
    // plan shape: candidate generation is an equi-join on the shingle key
    val plan = Dedup.containmentPairs(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "containment pairing must ride the shingle inverted index, never all-pairs")
  }
}
