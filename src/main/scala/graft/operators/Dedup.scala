package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables, pin}

/** Deduplication suite for training-data pipelines over `documents`:
  * exact (hash-groupBy), MinHash+LSH near-dup (shingle -> k-hash
  * signature -> banding -> bucket self-join -> exact-Jaccard verify;
  * k/banding caller-tunable, default 64 / 16x4 — see minhashSignatures),
  * SimHash, and exact n-gram Jaccard. Scale analysis (100 TB):
  *
  *  - exact: one shuffle on text-hash; group sizes are near-1 so AQE
  *    coalesces; never collect.
  *  - MinHash LSH: cost is O(docs x shingles) map-side + a shuffle on
  *    (band, bandHash). Bucket join replaces the O(n^2) all-pairs join —
  *    candidates are ~linear for real corpora. Exact verification joins
  *    only candidate pairs' shingle sets.
  *  - SimHash: 64 partial-agg columns, one shuffle on doc_id; pairing at
  *    scale would band the simhash bits exactly like MinHash (here the
  *    corpus per-verify is small after banding).
  *
  * All hashes are xxhash64 (seeded, deterministic) so results reproduce
  * bit-for-bit across runs and cluster layouts.
  */
object Dedup {

  /** (doc_id, sh) word-3-gram shingle hashes per document, WITH
    * duplicates — min-aggregation is duplicate-insensitive, so the
    * signature path never pays a distinct shuffle. */
  def shingleHashes(docs: DataFrame): DataFrame = {
    // NOTE: hashing token-hash triples instead of building shingle
    // strings was tried and is ~1.5x SLOWER — xxhash64 inside a
    // higher-order transform lambda runs interpreted (boxed, no
    // codegen), while the post-explode xxhash64 below is codegen'd.
    // spread: the fixture corpus is one row group, so the shingle
    // explode (the family's dominant per-row cost) would otherwise run
    // on ONE task; hash-keyed by doc_id so the signature groupBy reuses
    // the partitioning (no shingle-row shuffle). No-op at real scale.
    Tables.spread(docs, col("doc_id"))
      .withColumn("ts", split(trim(col("text")), " +"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ts) - 3), i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))"))
        .as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
  }

  /** Distinct shingle sets (for exact Jaccard). */
  def shingles(docs: DataFrame): DataFrame = shingleHashes(docs).distinct()

  /** MinHash signature per doc: sig_j = min over shingles of
    * xxhash64(j, sh).
    *
    * Recall is set by (k, banding) and is the caller's dial. The library
    * DEFAULT is k=64 with 16x4 banding: a 0.8-Jaccard pair is caught
    * with p ~ 1-(1-0.8^4)^16 = 0.9998, a 0.9 pair with ~1-1e-15 — the
    * general-corpus setting, where similarity mass near the threshold is
    * normal. The CHEAP setting k=32 / 8x4 halves signature cost but
    * drops 0.8-Jaccard recall to ~0.954 (0.9 stays 0.99985); it is the
    * right trade only when the corpus is known bimodal (near-dups >= 0.9,
    * background < 0.1) — the gate rows pin it explicitly for exactly
    * that reason. Keep k = bands x rowsPerBand consistent across
    * [[minhashSignatures]]/[[bandIndex]]/[[lshCandidates]], and note a
    * PERSISTED band index is only joinable against a new-batch index
    * built with the same (k, bands, rowsPerBand). */
  def minhashSignatures(sh: DataFrame, k: Int = 64): DataFrame = {
    val sigCols = (0 until k).map(j => min(xxhash64(lit(j), col("sh"))).as(s"s$j"))
    sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** Persistable LSH band index: one (doc_id, band, bh) row per band.
    * This IS the incremental-dedup state: write it partitioned/bucketed
    * by (band, bh) once per corpus snapshot, and each day's new batch
    * joins its own (tiny) index against it — no full-corpus re-pairing.
    * See [[incrementalCandidates]]. */
  def bandIndex(sigs: DataFrame, bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
             xxhash64((0 until rowsPerBand).map(r => col(s"s${b * rowsPerBand + r}")): _*).as("bh"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** The banded-bucket candidate kernel behind [[lshCandidates]],
    * [[incrementalCandidatesFlagged]], [[simhashPairs]] and
    * `Similarity.nearDupLsh`. The first three columns of `idx` are
    * (id, band, bucket), one row per id and band; `payload` names more
    * `idx` columns to carry; `isNew` is a predicate over `idx`'s columns
    * that marks the new batch. Returns each distinct pair of ids sharing
    * a (band, bucket) with at least one new side, as (ida < idb) plus
    * `<p>_a` and `<p>_b` for every payload column p, taken from the ida
    * and idb rows. With the default `isNew = lit(true)` that is the full
    * self-join.
    *
    * Buckets of at most `maxBucket` rows are self-joined. The join is
    * quadratic in bucket size, and on real corpora a hot bucket is a
    * boilerplate clique (identical headers, license blocks) whose O(n^2)
    * pairs are useless, so a larger bucket is emitted as a STAR instead:
    * every member paired with the bucket's min id, kept when the member
    * or the min is new. That is linear in the bucket, and transitive
    * closure ([[connectedComponents]]) recovers a genuine clique from
    * star edges that pass the caller's verify; members not similar to
    * the bucket min fail it and rely on their other bands. Pairs of two
    * non-min members of an over-cap bucket are found only through
    * another band or the closure: a bounded recall gap in place of an
    * unbounded quadratic blowup.
    *
    * Bucket size, min id and the min row's payload and new flag are a
    * window over (band, bucket) inside the pinned index, so both join
    * sides and the star rows are filters over one pin: one shuffle in
    * the pin, instead of a stats aggregation joined back through semi
    * and star joins, each re-running the index's whole lineage. A hot
    * bucket lands in one window task, the same skew exposure a stats
    * shuffle has. */
  private[graft] def bandedCandidates(idx: DataFrame, maxBucket: Int,
                                      payload: Seq[String] = Nil,
                                      isNew: Column = lit(true)): DataFrame = {
    val Array(id, band, bucket) = idx.columns.take(3)
    val w = Window.partitionBy(col(band), col(bucket))
    val sized = pin(idx.select(idx.columns.toSeq.map(col) ++ Seq(
        count(lit(1)).over(w).as("bsz"),
        min(col(id)).over(w).as("minid"),
        min_by(isNew, col(id)).over(w).as("min_new")) ++
      payload.map(p => min_by(col(p), col(id)).over(w).as(s"min_$p")): _*))
    val bounded = sized.filter(col("bsz") <= maxBucket)
      .select((Seq(id, band, bucket) ++ payload).map(col) :+ isNew.as("new"): _*)
    // x is always new: a new-new pair comes once, as x < y; a new-old
    // pair comes once in either order and is swapped to ida < idb. With
    // a literal `isNew` both `new` columns fold away, leaving the plain
    // x < y self-join.
    val swap = !col("y.new") && col(s"x.$id") > col(s"y.$id")
    def sides(c: String, a: String, b: String) = Seq(
      when(swap, col(s"y.$c")).otherwise(col(s"x.$c")).as(a),
      when(swap, col(s"x.$c")).otherwise(col(s"y.$c")).as(b))
    val pairwise = bounded.as("x").join(bounded.as("y"), Seq(band, bucket))
      .where(col("x.new") && (!col("y.new") || col(s"x.$id") < col(s"y.$id")))
      .select(sides(id, "ida", "idb") ++
        payload.flatMap(p => sides(p, s"${p}_a", s"${p}_b")): _*)
    val starred = sized
      .filter(col("bsz") > maxBucket && col(id) =!= col("minid") &&
              (isNew || col("min_new")))
      .select(Seq(col("minid").as("ida"), col(id).as("idb")) ++
        payload.flatMap(p => Seq(col(s"min_$p").as(s"${p}_a"), col(p).as(s"${p}_b"))): _*)
    pairwise.union(starred).distinct()
  }

  /** LSH candidate pairs: band the signature (bands x rowsPerBand = k)
    * and pair the docs that share a (band, bh) bucket, over-cap buckets
    * as stars ([[bandedCandidates]]). */
  def lshCandidates(sigs: DataFrame, bands: Int = 16, rowsPerBand: Int = 4,
                    maxBucket: Int = 4096): DataFrame =
    bandedCandidates(bandIndex(sigs, bands, rowsPerBand), maxBucket)

  /** Incremental near-dup candidates: pairs sharing a band bucket where
    * AT LEAST ONE side is in the new batch — old-vs-old pairs were
    * already adjudicated when the old snapshot was indexed, so they are
    * never re-enumerated. This is the daily-ingest shape at 100 TB: the
    * corpus-side cost is ONE equi-join of the (tiny) new-batch index
    * against the persisted [[bandIndex]], not a quadratic re-pairing.
    * Over-cap buckets keep a star edge only when the member or the
    * bucket min is new ([[bandedCandidates]]). */
  def incrementalCandidates(oldIdx: DataFrame, newIdx: DataFrame,
                            maxBucket: Int = 4096): DataFrame =
    incrementalCandidatesFlagged(
      oldIdx.withColumn("is_new", lit(false))
        .unionByName(newIdx.withColumn("is_new", lit(true))), maxBucket)

  /** Same as [[incrementalCandidates]] but over ONE combined index
    * carrying an `is_new` flag column — the shape to use when old and
    * new rows live in the same snapshot table (one aggregation lineage,
    * no union of two separately-shuffled halves). */
  def incrementalCandidatesFlagged(allIdx: DataFrame,
                                   maxBucket: Int = 4096): DataFrame =
    bandedCandidates(allIdx.select(col("doc_id"), col("band"), col("bh"), col("is_new")),
                     maxBucket, isNew = col("is_new"))

  /** Exact Jaccard for given (ida, idb) pairs via shingle-set joins.
    * Only candidate docs' shingles enter the joins (semi-join first,
    * THEN distinct): after LSH pruning, candidates are a sliver of the
    * corpus, so both the distinct and the pair joins shuffle survivors,
    * not the corpus — the difference that matters at 100 TB.
    *
    * With `keepZero = false` (the path every thresholded caller wants),
    * pairs sharing no shingle — jac = 0 — are omitted instead of
    * left-outer-joined back in; `pairs` is then consumed twice, not three
    * times, which matters because callers pass it UNcached (see q65). */
  def exactJaccard(pairsIn: DataFrame, shAll: DataFrame,
                   keepZero: Boolean = true): DataFrame = {
    // pinned: `pairs` is consumed by candDocs and inter (and the keepZero
    // outer join) — unpinned, each consumer re-runs the whole candidate
    // pipeline; `sh` is consumed by sizes/sa/sb — unpinned, each re-runs
    // the corpus shingle explode. Both are candidate-sliver-sized.
    val pairs = pin(pairsIn)
    val candDocs = pairs
      .select(explode(array(col("ida"), col("idb"))).as("doc_id")).distinct()
    val sh = pin(
      shAll.join(broadcast(candDocs), Seq("doc_id"), "left_semi").distinct())
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val inter = pairs
      .join(sh.as("sa"), col("ida") === col("sa.doc_id"))
      .join(sh.as("sb"), col("idb") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy(col("ida"), col("idb"))
      .agg(count(lit(1)).as("inter"))
    val withInter =
      if (keepZero)
        pairs.join(inter, Seq("ida", "idb"), "left_outer").na.fill(0L, Seq("inter"))
      else inter
    // sizes is one row per CANDIDATE doc — bounded by 2x|pairs|, the same
    // driver-sized contract candDocs (already broadcast) rides; explicit
    // because the pinned `sh` carries no size statistics for the planner
    withInter
      .join(broadcast(sizes.withColumnRenamed("doc_id", "ida")
        .withColumnRenamed("nsh", "na")), Seq("ida"))
      .join(broadcast(sizes.withColumnRenamed("doc_id", "idb")
        .withColumnRenamed("nsh", "nb")), Seq("idb"))
      .withColumn("jac", col("inter") / (col("na") + col("nb") - col("inter")))
  }

  /** Exact dedup: canonical doc per identical text. Groups by the text
    * itself, not a 64-bit hash — at billions of docs a 64-bit digest has
    * birthday collisions that silently merge distinct documents; Spark's
    * hash aggregate on a string key is collision-safe (the hash only
    * routes the shuffle, equality decides the group). */
  val q64_dedup_exact: Q = (s, d) => {
    Tables.documents(s, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .groupBy(col("n_copies"))
      .agg(count(lit(1)).as("n_groups"), min(col("keep_id")).as("min_keep"))
      .orderBy(col("n_copies"))
  }

  /** MinHash-LSH near-dup pairs, exact-verified at Jaccard >= 0.7.
    * The oracle is the all-pairs exact answer. The gate PINS the cheap
    * k=32 / 8x4 setting (half the library default's signature cost):
    * this corpus's verified jaccard distribution is bimodal (planted
    * near-dups >= 0.9 — caught with p = 0.99985 — background < 0.1), so
    * the ~5% recall loss the cheap setting has at Jaccard 0.8 cannot
    * bite here. General callers get the 64 / 16x4 default
    * (see [[minhashSignatures]]). */
  val q65_minhash_lsh: Q = (s, d) => {
    val shRaw = shingleHashes(Tables.documents(s, d))
    // No mid-query cache: the candidate lineage (shingle scan + groupBy +
    // band join) is cheap to recompute and caching made the plan hostage
    // to block-manager pressure in a shared long-lived session.
    val cands = lshCandidates(minhashSignatures(shRaw, k = 32), bands = 8)
    exactJaccard(cands, shRaw, keepZero = false)
      .filter(col("jac") >= 0.7)
      .select(col("ida"), col("idb"), round(col("jac"), 6).as("jac"))
      .orderBy(col("ida"), col("idb"))
  }

  /** 64-bit SimHash signature per doc from token-hash bit votes. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(split(trim(col("text")), " +")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map(j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$j"))
    tok.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(j => when(col(s"v$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** SimHash near-dup pairs at hamming <= maxHamming, found by banding
    * the 64 bits into 8 bytes and bucket-joining on (band, byte): a pair
    * within hamming 6 differs in at most 6 of the 8 bytes, so by
    * pigeonhole it shares >= 2 identical bands. Below the bucket cap the
    * bucket join is lossless vs the all-pairs scan (PipelineSpec pins the
    * equivalence at test scale, where no bucket exceeds the cap); an
    * over-cap (band, byte) bucket is emitted as a STAR around its min
    * doc_id ([[bandedCandidates]]). Star edges pass the SAME hamming
    * verify as pairwise edges — an over-cap bucket is just an 8-bit
    * collision, so unverified stars would merge dissimilar docs — which
    * means only members within maxHamming of the bucket's min contribute
    * edges from that bucket; a true near-dup pair in an over-cap bucket
    * is lost only if EVERY band it shares (pigeonhole guarantees >= 2)
    * is over-cap and neither member is near that bucket's min. Plan
    * shape is an equi-join — no cartesian — so it survives scale-up. */
  def simhashPairs(sig: DataFrame, maxHamming: Int = 6,
                   maxBucket: Int = 4096): DataFrame = {
    val idx = sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until 8).map(b => struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * 8).bitwiseAND(255).as("bv"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bv").as("bv"),
              col("simhash"))
    bandedCandidates(idx, maxBucket, payload = Seq("simhash"))
      .select(col("ida"), col("idb"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup: banded bucket join, hamming <= 6 (rows-only:
    * xxhash64 has no DuckDB equivalent; pinned by SimHashSpec instead). */
  val q66_simhash: Q = (s, d) => {
    simhashPairs(simhashSignatures(Tables.documents(s, d)))
      .orderBy(col("ida"), col("idb"))
  }

  /** Hash-exact SimHash gate: the vote-per-bit algorithm re-run on 32
    * bits of md5 — the one hash both engines spell identically — so the
    * ENTIRE SimHash computation (tokenize, distinct, per-bit majority
    * vote, bit reassembly) becomes a DuckDB-replayable closed form. The
    * xxhash64 production variant stays spec-only by necessity; this row
    * removes the family's only unhashed stage. Plan shape matches
    * production: one distinct on (doc_id, token), one groupBy(doc_id)
    * carrying 32 codegen'd conditional sums — no per-bit explode, no
    * shuffle beyond the two aggregates.
    *
    * DELIBERATE divergences from simhashSignatures (the production
    * path, which banding + q66 pin): this row votes over DISTINCT
    * tokens and sets a bit on vote > 0, while production keeps duplicate
    * tokens (term frequency weights the vote) and breaks vote ties
    * toward 1 (>= 0). The row pins the closed-form replay, NOT
    * production's tie/multiplicity semantics — align both before reusing
    * either as a drop-in for the other. */
  val q268_simhash_md5: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), "[^A-Za-z0-9]+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), lower(col("tok")).as("tok"))
      .distinct()
    val h = toks.select(col("doc_id"),
      conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("h32"))
    val votes = (0 until 32).map(j =>
      sum(when(shiftrightunsigned(col("h32"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$j"))
    h.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash32"))
      .orderBy(col("doc_id"))
  }

  /** Exact n-gram Jaccard over all pairs (the small-scale oracle-able
    * ground truth; at 100 TB you run q65 instead — same verify stage).
    * Capped at 1000 docs: all-pairs x shingle-join is O(n^2 * s) and is
    * exactly the plan shape LSH exists to avoid. */
  val q67_ngram_jaccard: Q = (s, d) => {
    val shRaw = shingleHashes(Tables.documents(s, d).filter(col("doc_id") < 1000))
    val ids = shRaw.select(col("doc_id")).distinct()
    val allPairs = ids.select(col("doc_id").as("ida"))
      .crossJoin(ids.select(col("doc_id").as("idb")))
      .where(col("ida") < col("idb"))
    exactJaccard(allPairs, shRaw, keepZero = false)
      .filter(col("jac") >= 0.5)
      .select(col("ida"), col("idb"), round(col("jac"), 6).as("jac"))
      .orderBy(col("ida"), col("idb"))
  }

  /** Asymmetric CONTAINMENT near-dup: containment(S,L) = |S∩L| / |S|
    * over shingle sets — the signal that catches a short document quoted
    * verbatim inside a long one, which symmetric Jaccard (q65/q67)
    * structurally misses (a 50-shingle doc inside a 5000-shingle doc has
    * Jaccard 0.01 but containment 1.0). Candidate generation is the
    * shingle INVERTED INDEX, not all-pairs: docs pair only through a
    * shared shingle, and shingles hotter than maxDf are dropped from
    * BOTH the pairing and the containment sets (boilerplate shingles are
    * uninformative for containment and their posting lists are the
    * quadratic hazard — the q215 ExactSubstr df-cap discipline). Sizes
    * are counted over the SAME capped sets, so the score is exactly
    * reproducible by the oracle. At 100 TB: one shuffle keyed by
    * shingle, per-shingle work bounded by maxDf^2, one pair-keyed agg. */
  def containmentPairs(docs: DataFrame, minShared: Long = 3L,
                       minContainment: Double = 0.5, maxDf: Long = 64L): DataFrame = {
    // Same single-lineage discipline as [[sharedSpans]]: ONE distinct
    // shingle build shuffled by the join key, the df cap as a window
    // over it (no stats join-back), explicit isnotnull on the keys so
    // the self-join's inferred filters cannot de-canonicalize the
    // shared exchange subtrees (AQE stage reuse then collapses them).
    val w = Window.partitionBy(col("sh"))
    val keep = shingles(docs)
      .where(col("sh").isNotNull && col("doc_id").isNotNull)
      .repartition(col("sh"))
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= maxDf)
      .select(col("doc_id"), col("sh"))
    val sizes = keep.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val inter = keep.as("a")
      .join(keep.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") >= minShared)
    inter
      .join(sizes.select(col("doc_id").as("ida"), col("nsh").as("na")), Seq("ida"))
      .join(sizes.select(col("doc_id").as("idb"), col("nsh").as("nb")), Seq("idb"))
      .withColumn("containment",
        round(col("inter") * lit(1.0) / least(col("na"), col("nb")), 6))
      .filter(col("containment") >= minContainment)
      .select(col("ida"), col("idb"), col("inter"), col("na"), col("nb"), col("containment"))
  }

  /** Gate row: containment pairs over the documents corpus. */
  val q280_containment: Q = (s, d) =>
    containmentPairs(Tables.documents(s, d)).orderBy(col("ida"), col("idb"))

  /** Connected components over undirected (ida, idb) edges by iterative
    * min-label propagation WITH per-round pointer jumping (path
    * compression): every vertex starts labeled with its own id; each
    * round a vertex takes the min of its label and its neighbors' labels,
    * then follows its label one hop (comp <- comp's comp). The jump makes
    * label distances roughly double per round, so convergence is
    * O(log diameter) rounds — a maxIters=30 budget covers any realistic
    * graph, not just shallow near-dup cliques. Fixpoint = every vertex
    * carries the min id of its component. This is the transitive-closure
    * pass that turns near-dup PAIRS (from [[lshCandidates]]/
    * [[simhashPairs]]/star-capped hot buckets) into dedup CLUSTERS — at
    * 100 TB each round is an equi-join + min-aggregation + label
    * self-join on the (small) vertex set, not the corpus.
    *
    * Each round is a [[graft.pin]], so the plan stays O(1) deep and the
    * loop survives executor loss wherever Spark has a checkpoint dir.
    *
    * Returns (id, comp) for every vertex incident to an edge. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 30): DataFrame = {
    // materialize the symmetric edge list ONCE: the edge lineage is the
    // whole candidate+verify pipeline, and every propagation round (plus
    // its convergence check) would otherwise recompute it from the scan
    val sym = pin(edges
      .select(col("ida").as("src"), col("idb").as("dst"))
      .union(edges.select(col("idb").as("src"), col("ida").as("dst"))))
    // Initialization fused with the first propagation round: label(v) =
    // min(v, min over neighbors) rather than v — one groupBy does the
    // work of the identity init PLUS round one, so star/pair components
    // (the bulk of near-dup clusters) converge a full round earlier.
    var labels = pin(sym.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("comp")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // own label tagged old=true, neighbor labels old=false: ONE
      // aggregation yields both the new label (min over all) and the old
      // one (min over tagged), so convergence is a filter on the same
      // result — no per-round join back to the previous labels
      val own = labels.select(col("id"), col("comp"), lit(true).as("old"))
      val viaNeighbors = sym.join(labels, col("dst") === col("id"))
        .select(col("src").as("id"), col("comp"), lit(false).as("old"))
      // building the pin runs the round's shuffle stages; without a
      // checkpoint dir the convergence count below runs the final
      // aggregation and stores the labels (see [[graft.pin]])
      val mid = pin(own.union(viaNeighbors)
        .groupBy(col("id"))
        .agg(min(col("comp")).as("comp"),
             min(when(col("old"), col("comp"))).as("oldcomp")))
      converged = mid.where(col("comp") < col("oldcomp")).count() == 0L
      labels =
        if (converged) mid.select(col("id"), col("comp"))
        else {
          // pointer jump on the just-materialized labels: comp <- comp's
          // comp. A label is always a vertex id, so the self-join hits;
          // left+coalesce keeps roots (comp = own id) unchanged
          pin(mid.as("l")
            .join(mid.select(col("id").as("jid"), col("comp").as("jcomp")),
                  col("l.comp") === col("jid"), "left")
            .select(col("l.id").as("id"),
                    coalesce(col("jcomp"), col("l.comp")).as("comp")))
        }
      iter += 1
    }
    // loud, not silently wrong: truncated propagation would split
    // clusters that the oracle (true transitive closure) merges
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIters rounds — " +
        "a component's diameter exceeds 2^maxIters; raise maxIters")
    labels
  }

  /** Near-dup edges at exact Jaccard >= `threshold` — the q65 pipeline
    * (MinHash LSH candidates, exact verify) minus the presentation cols.
    * Same gate-pinned cheap 32 / 8x4 setting as q65 (bimodal corpus). */
  private def nearDupEdges(s: SparkSession, d: String, threshold: Double): DataFrame = {
    val shRaw = shingleHashes(Tables.documents(s, d))
    exactJaccard(lshCandidates(minhashSignatures(shRaw, k = 32), bands = 8),
                 shRaw, keepZero = false)
      .filter(col("jac") >= threshold)
      .select(col("ida"), col("idb"))
  }

  /** Distinct doc ids touched by any verified near-dup pair, marked for
    * a left-join probe — the sliver q234/q245 fold corpus stats against. */
  private def dupIdSliver(pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    pairs.select(col("ida").as("doc_id"))
      .unionByName(pairs.select(col("idb").as("doc_id")))
      .distinct().withColumn("hit", lit(1))

  /** Dedup clusters: connected components over the verified near-dup
    * pairs, summarized per cluster (cluster id = min member id). */
  val q123_dedup_clusters: Q = (s, d) => {
    connectedComponents(nearDupEdges(s, d, 0.7))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
      .orderBy(col("comp"))
  }

  /** Keep-best canonicalization: per near-dup cluster, keep the highest-
    * quality member (the q61 composite score; ties -> min doc_id). This
    * is the curation pipeline's final arbiter — dedup keyed on semantic
    * clusters, not raw text equality. One corpus-side projection for the
    * scores, then all work happens on the (tiny) clustered vertex set. */
  val q124_dedup_keep_best: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), round(TextAnalysis.qualityExpr, 6).as("q"))
    connectedComponents(nearDupEdges(s, d, 0.7))
      .join(scored, col("id") === col("doc_id"))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"),
           max_by(col("doc_id"), struct(col("q"), -col("doc_id"))).as("keep_id"),
           max(col("q")).as("best_quality"))
      .orderBy(col("comp"))
  }

  /** Incremental dedup gate: docs with doc_id % 4 == 0 play the "new
    * batch", the rest the already-indexed corpus. Same signatures and
    * banding as q65, so recall is q65's; the oracle is the exact
    * all-pairs answer restricted to pairs touching the new batch. In
    * production oldIdx comes off the persisted snapshot index
    * ([[bandIndex]]) and only the exact-verify step touches old docs'
    * shingles — a candidate-sliver semi-join, not a corpus scan. */
  val q201_incremental_dedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // one index build over the whole corpus, flagged by batch — the
    // gate pays the old-index build inline; production reads it from
    // the persisted snapshot (see PipelineSpec's round-trip test)
    // gate-pinned cheap 32 / 8x4 setting, matching q65 (bimodal corpus)
    val idx = bandIndex(minhashSignatures(shingleHashes(docs), k = 32), bands = 8)
      .withColumn("is_new", col("doc_id") % 4 === 0)
    val shAll = shingleHashes(docs)
    exactJaccard(incrementalCandidatesFlagged(idx), shAll, keepZero = false)
      .filter(col("jac") >= 0.7)
      .select(col("ida"), col("idb"), round(col("jac"), 6).as("jac"))
      .orderBy(col("ida"), col("idb"))
  }

  /** Curation filter funnel: the per-stage survival report every
    * training-data pipeline publishes — length gate, language-ID gate,
    * quality gate, then near-dup canonicalization (keep the cluster
    * minimum), each stage counted over the survivors of the previous
    * one. The heuristic gates are codegen'd scan-speed projections; the
    * only non-scan work is the near-dup machinery itself, whose verdict
    * (the tiny non-keeper sliver) is broadcast back onto the scan — the
    * corpus is never shuffled for the report itself. */
  val q209_filter_funnel: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val nonKeepers = connectedComponents(nearDupEdges(s, d, 0.7))
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("dup_id"))
    val f1 = size(split(trim(col("text")), " +")) >= 25 && length(col("text")) <= 20000
    docs
      .join(broadcast(nonKeepers), col("doc_id") === col("dup_id"), "left_outer")
      .select(f1.as("f1"),
              TextAnalysis.anyLangHit.as("lang_ok"),
              (TextAnalysis.qualityExpr >= 0.6).as("q_ok"),
              col("dup_id").isNull.as("canon"))
      .agg(count(lit(1)).as("n_total"),
           sum(when(col("f1"), 1L).otherwise(0L)).as("n_len"),
           sum(when(col("f1") && col("lang_ok"), 1L).otherwise(0L)).as("n_lang"),
           sum(when(col("f1") && col("lang_ok") && col("q_ok"), 1L).otherwise(0L)).as("n_quality"),
           sum(when(col("f1") && col("lang_ok") && col("q_ok") && col("canon"), 1L)
             .otherwise(0L)).as("n_canonical"))
  }

  /** (doc_id, pos, sh): every k-token shingle of every document with its
    * 1-based start offset, keyed by a 64-bit shingle hash — an 8-byte
    * join/shuffle key instead of a ~10k-char-wide string (the difference
    * between shuffling the corpus once and shuffling it several times
    * over at 100 TB). `sh` is used ONLY for equality (df stats, the
    * anti-join, the self-join): no downstream result reads its value, so
    * the key is the chained multi-arg `xxhash64(tok_i, …, tok_{i+k-1})`
    * over the k tokens in place — equal tuples collide by construction
    * (split on " +" yields space-free tokens, so this has exactly the
    * equality classes of hashing the joined string) and the offsets are
    * exploded directly, with no per-shingle slice array or joined
    * string. The hash runs after the explode, where whole-stage codegen
    * fuses it, not inside a higher-order function.
    * A 64-bit collision can only fabricate an isolated 1-shingle island
    * (run = k < minRun) unless k*2^-64-probability events chain — and
    * the DuckDB oracle, which matches shingle STRINGS, would flag any
    * pair it ever invented. The single source of truth for the span
    * family — [[sharedSpans]] and [[spanContamination]] must shingle
    * identically or their runs silently diverge. */
  private def positionalShingles(docs: DataFrame, k: Int): DataFrame =
    // spread: same single-row-group rationale as shingleHashes — the
    // positional shingle build is the span family's dominant per-row
    // cost and must not run on one task. No-op at real scale.
    Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (k - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        xxhash64((0 until k).map(j =>
          element_at(col("toks"), col("pos") + j)): _*).as("sh"))

  /** Qualifying island intervals: one row per maximal run of consecutive
    * `pa` per (left, right, diag) with run >= minRun, carrying the
    * covered position interval [st, en] on the LEFT document's axis
    * (within an island pa is consecutive by construction, so
    * en = st + run - 1 exactly). */
  private def islandSpans(matches: DataFrame, left: String, right: String,
                          k: Int, minRun: Int): DataFrame = {
    val w = Window.partitionBy(col(left), col(right), col("diag")).orderBy(col("pa"))
    matches
      .withColumn("island", col("pa") - row_number().over(w))
      .groupBy(col(left), col(right), col("diag"), col("island"))
      .agg(min(col("pa")).as("st"), (count(lit(1)) + (k - 1)).as("run"))
      .filter(col("run") >= minRun)
      .withColumn("en", col("st") + col("run") - 1)
  }

  /** Maximal islands of consecutive `pa` per (left, right, diag), then
    * per-pair max-run/span-count — the shared tail of the span family. */
  private def diagonalRuns(matches: DataFrame, left: String, right: String,
                           k: Int, minRun: Int): DataFrame =
    islandSpans(matches, left, right, k, minRun)
      .groupBy(col(left), col(right))
      .agg(max(col("run")).as("max_run"), count(lit(1)).as("n_spans"))
      .orderBy(col(left), col(right))

  /** ExactSubstr-style shared-token-span detection (the exact-substring
    * half of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"; no reference counterpart — pipeline extension).
    * Finds document pairs sharing a run of at least `minRun` consecutive
    * identical tokens — the failure mode MinHash misses: a long verbatim
    * quote inside two otherwise-different documents has low whole-doc
    * Jaccard but is exactly what train-set contamination looks like.
    *
    * The paper builds a corpus-wide suffix array — a single-machine
    * structure. The Spark-first shape is a positional k-shingle inverted
    * index + diagonal run merge:
    *
    *  1. positional k-shingles, one row per token offset (map-side only);
    *  2. df cap on the shingle key (the [[lshCandidates]] hot-bucket
    *     trick): a shingle in > dfCap docs is boilerplate whose quadratic
    *     bucket join would dominate; dropping it can only split a
    *     reported run that crosses it, never invent one — recall pays,
    *     precision never;
    *  3. equi-self-join on the shingle -> (ida, idb, pa, pb);
    *  4. gaps-and-islands on the alignment diagonal (pa - pb): a shared
    *     run of R tokens is exactly a maximal island of R-k+1 consecutive
    *     pa values on one diagonal.
    *
    * Shuffles: one on the shingle key (df-capped), one window over
    * (ida, idb, diag) whose partitions are bounded by the longest shared
    * span. Both scale-shaped; nothing is ever collected.
    */
  def sharedSpans(docs: DataFrame, k: Int = 8, minRun: Int = 20,
                  dfCap: Int = 64): DataFrame = {
    require(k >= 2, s"shingle width k=$k must be >= 2")
    require(minRun >= k, s"minRun=$minRun below k=$k is undetectable: " +
      "the shortest observable run is one whole shingle")
    require(dfCap >= 2, s"dfCap=$dfCap < 2 drops every cross-doc shingle")
    // ONE shingle lineage, shuffled by the join key once: the df-cap
    // stats and BOTH self-join sides consume the same exchange
    // (ReuseExchange collapses the identical subtrees), so the corpus
    // pays one shingle build + one shuffle instead of three builds (the
    // r13 plan re-ran the positional-shingle explode per consumer and
    // double-computed the df aggregation). The cap side is inverted to
    // broadcast the HOT set (df > cap — boilerplate shingles, a bounded
    // sliver by the same argument as lshCandidates' over-cap buckets)
    // with an anti-join, instead of semi-joining against the
    // corpus-sized ok set (which the planner had to broadcast — fine at
    // test scale, lethal at 100 TB).
    // explicit isnotnull on the join/compare keys BEFORE the exchange:
    // the inner self-join infers IsNotNull(sh) (equi key) and
    // IsNotNull(doc_id) (from x.doc_id < y.doc_id) into both of its
    // sides but not into the stats side, so the three
    // otherwise-identical exchange subtrees canonicalize differently
    // and AQE stage reuse collapses only two of them (the q65 pin
    // finding, solved here without a pin: neither column is ever null —
    // the multi-arg xxhash64 never returns null, the size >= k filter
    // keeps every element_at lookup in bounds, and doc_id is the scan
    // key — so the filters are semantically free and every consumer's
    // lineage now matches bit-for-bit)
    val sh = positionalShingles(docs, k)
      .where(col("sh").isNotNull && col("doc_id").isNotNull)
      .repartition(col("sh"))
    val hot = sh.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > dfCap)
      .select(col("sh"))
    val bounded = sh.join(broadcast(hot), Seq("sh"), "left_anti")
    val matches = bounded.as("x").join(bounded.as("y"), Seq("sh"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"),
              col("x.pos").as("pa"), (col("x.pos") - col("y.pos")).as("diag"))
    diagonalRuns(matches, "ida", "idb", k, minRun)
  }

  /** Shared by [[spanContamination]]/[[spanCoverage]]: train shingles
    * that literally occur in eval, with `pa` on the TRAIN position axis. */
  private def contaminationMatches(train: DataFrame, evalDocs: DataFrame,
                                   k: Int, minRun: Int): DataFrame = {
    require(k >= 2, s"shingle width k=$k must be >= 2")
    require(minRun >= k, s"minRun=$minRun below k=$k is undetectable: " +
      "the shortest observable run is one whole shingle")
    val t = positionalShingles(train, k)
    val e = positionalShingles(evalDocs, k)
      .withColumnRenamed("doc_id", "eval_id").withColumnRenamed("pos", "ep")
    t.join(broadcast(e), Seq("sh"))
      .select(col("eval_id"), col("doc_id").as("train_id"),
              col("pos").as("pa"), (col("pos") - col("ep")).as("diag"))
  }

  /** Span-level decontamination: which TRAIN documents contain a
    * >= minRun-token verbatim span from any EVAL document. The n-gram
    * overlap report ([[graft.operators.PipelineOps]] decontaminate /
    * q148) flags shared vocabulary; this flags verbatim leakage — the
    * thing that actually invalidates a benchmark number (Lee et al.
    * 2022 find eval answers embedded verbatim in train text).
    *
    * Scale shape: eval is the curated, small side — its positional
    * shingle index is BROADCAST; the train corpus is scanned once and
    * never reshuffled for matching. Only the matched sliver (train
    * shingles that literally occur in eval) reaches the island window.
    * No df cap: eval is deduplicated by construction, and a hot eval
    * shingle is bounded by eval's own size, not the corpus's. */
  def spanContamination(train: DataFrame, evalDocs: DataFrame,
                        k: Int = 8, minRun: Int = 20): DataFrame =
    diagonalRuns(contaminationMatches(train, evalDocs, k, minRun),
                 "eval_id", "train_id", k, minRun)

  /** Merged (non-overlapping, maximal) leaked-token regions per train
    * doc: (train_id, lo, hi) on the train token axis, from qualifying
    * spans across ALL eval docs and diagonals (running-max sweep). The
    * shared core of [[spanCoverage]] and [[spanScrub]]. */
  def leakRegions(train: DataFrame, evalDocs: DataFrame,
                  k: Int = 8, minRun: Int = 20): DataFrame = {
    val spans = islandSpans(contaminationMatches(train, evalDocs, k, minRun),
                            "eval_id", "train_id", k, minRun)
    val wPrev = Window.partitionBy(col("train_id")).orderBy(col("st"), col("en"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("train_id")).orderBy(col("st"), col("en"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spans
      .withColumn("prev_en", max(col("en")).over(wPrev))
      .withColumn("fresh",
        when(col("prev_en").isNull || col("st") > col("prev_en"), 1L).otherwise(0L))
      .withColumn("grp", sum(col("fresh")).over(wRun))
      .groupBy(col("train_id"), col("grp"))
      .agg(min(col("st")).as("lo"), max(col("en")).as("hi"))
      .drop("grp")
  }

  /** Per-train-document leak coverage — the decision metric
    * decontamination feeds: what FRACTION of a train doc's tokens sits
    * inside a >= minRun verbatim eval span (Lee et al. 2022 drop whole
    * documents past a coverage threshold; reporting per-pair max runs
    * alone can't distinguish one 20-token quote from a half-copied
    * page). Qualifying spans from ALL eval docs and diagonals are
    * merged as intervals on the train doc's token axis (classic sweep:
    * running-max of interval ends, new region when a span starts past
    * it), so overlapping leaks never double-count a token.
    * `leak_frac` is a single IEEE division of two exact integers —
    * bit-stable across engines.
    *
    * Scale shape: everything after the broadcast shingle probe operates
    * on the matched sliver; the merge windows partition by train_id —
    * bounded by one document's span count, never the corpus. */
  def spanCoverage(train: DataFrame, evalDocs: DataFrame,
                   k: Int = 8, minRun: Int = 20): DataFrame = {
    val ntok = train.select(col("doc_id").as("train_id"),
      size(split(trim(col("text")), " +")).cast("long").as("ntok"))
    leakRegions(train, evalDocs, k, minRun).groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_regions"),
           sum(col("hi") - col("lo") + 1).as("covered_tokens"))
      .join(ntok, Seq("train_id"))
      .select(col("train_id"), col("n_regions"), col("covered_tokens"), col("ntok"),
              (col("covered_tokens").cast("double") / col("ntok").cast("double"))
                .as("leak_frac"))
      .orderBy(col("train_id"))
  }

  /** Span REMOVAL — the operation detection exists to feed (Lee et al.
    * 2022 excise the duplicated substring, keeping the rest of the doc):
    * returns the REWRITTEN train docs — only those with a leaked region —
    * as (train_id, clean_ntok, clean_text) with every token inside a
    * merged leak region removed and the survivors rejoined in order.
    * Callers union the untouched remainder (anti-join on train_id) —
    * kept out of this result so the gate hashes the full rewritten text.
    *
    * Scale shape: only CONTAMINATED docs (a left-semi against the region
    * sliver) pay the token explode; the region predicate applies as a
    * broadcast range anti-join; everything else never leaves the scan. A
    * fully-covered doc vanishes (no tokens survive) — by design: it IS
    * the eval content. */
  def spanScrub(train: DataFrame, evalDocs: DataFrame,
                k: Int = 8, minRun: Int = 20): DataFrame = {
    val regions = leakRegions(train, evalDocs, k, minRun)
    val dirty = train
      .join(regions.select(col("train_id")).distinct(),
            col("doc_id") === col("train_id"), "left_semi")
    val toks = dirty
      .select(col("doc_id"), posexplode(split(trim(col("text")), " +")).as(Seq("p0", "tk")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tk"))
    val kept = toks.join(broadcast(regions),
        col("doc_id") === col("train_id") &&
        col("pos").between(col("lo"), col("hi")), "left_anti")
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("clean_ntok"),
           concat_ws(" ", expr(
             "transform(array_sort(collect_list(struct(pos, tk))), x -> x.tk)"))
             .as("clean_text"))
      .select(col("doc_id").as("train_id"), col("clean_ntok"), col("clean_text"))
      .orderBy(col("train_id"))
  }

  /** Gate row for [[spanScrub]]: same % 5 split as q216; the oracle
    * rebuilds each cleaned text in DuckDB, so the hash covers the FULL
    * rewritten strings, not just counts. */
  val q229_span_scrub: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    spanScrub(
      docs.filter(col("doc_id") % 5 =!= 3),
      docs.filter(col("doc_id") % 5 === 3),
      k = 8, minRun = 20)
  }

  /** Cross-source duplication matrix — which corpus sources duplicate
    * each other (the report that decides "drop source B, it's 80%
    * source A" before mixing weights are set): verified near-dup pairs
    * (>= 0.7 exact Jaccard on the LSH candidate sliver, same machinery
    * as q65) labeled with each side's source, rolled up per unordered
    * source pair. Scale shape: the only corpus-sized work is the LSH
    * path itself; the source labels join on doc_id (a projected
    * two-column sliver) and the output is |sources|^2 at most. */
  val q230_cross_source_dup: Q = (s, d) => {
    val pairs = nearDupEdges(s, d, 0.7)
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("ida"), col("source").as("src_a")), Seq("ida"))
      .join(src.select(col("doc_id").as("idb"), col("source").as("src_b")), Seq("idb"))
      .select(least(col("src_a"), col("src_b")).as("source_x"),
              greatest(col("src_a"), col("src_b")).as("source_y"))
      .groupBy(col("source_x"), col("source_y"))
      .agg(count(lit(1)).as("n_dup_pairs"))
      .orderBy(col("source_x"), col("source_y"))
  }

  /** Per-source near-duplication rate — the companion report to
    * [[q230_cross_source_dup]]: that one says WHO duplicates whom, this
    * says how much of each source is redundant (fraction of its docs
    * with at least one verified >= 0.7-Jaccard near-dup anywhere in the
    * corpus — the number that decides whether a source is worth its
    * ingest cost). Corpus-sized work is the shared LSH path; the dup-id
    * set is a one-column distinct sliver left-joined on doc_id. */
  val q234_source_dup_rate: Q = (s, d) => {
    val dupIds = dupIdSliver(nearDupEdges(s, d, 0.7))
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(dupIds, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), count(col("hit")).as("n_dup"))
      .withColumn("dup_rate",
        round(col("n_dup").cast("double") / col("n_docs"), 6))
      .orderBy(col("source"))
  }

  /** Effective (post-dedup) token count per source — the number a
    * mixing plan should weight by: total tokens minus the tokens of
    * near-dup cluster members that lose keep-best canonicalization
    * (q124's arbiter: highest q61 quality, ties -> min doc_id). All
    * clustering work happens on the verified-pair sliver; the corpus
    * pays one projection and one left join against the (tiny) loser
    * set. */
  val q240_effective_tokens: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scored = docs.select(col("doc_id"),
      round(TextAnalysis.qualityExpr, 6).as("q"))
    val clustered = connectedComponents(nearDupEdges(s, d, 0.7))
      .join(scored, col("id") === col("doc_id"))
    val keepers = clustered.groupBy(col("comp"))
      .agg(max_by(col("doc_id"), struct(col("q"), -col("doc_id"))).as("keep_id"))
    val losers = clustered.select(col("comp"), col("doc_id"))
      .join(keepers, Seq("comp"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id")).withColumn("drop", lit(1))
    val ntok = size(split(trim(col("text")), " +")).cast("long")
    docs.join(losers, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           count(when(col("drop").isNull, 1)).as("n_kept"),
           sum(ntok).as("total_tokens"),
           sum(when(col("drop").isNull, ntok)).as("effective_tokens"))
      .orderBy(col("source"))
  }

  /** Dup-rate by quality bucket — the calibration diagnostic behind
    * "filter by quality BEFORE dedup or after?": bucket docs by the
    * q61 score (value-based floor(q*10) buckets, no ntile tie
    * nondeterminism) and measure each bucket's verified-near-dup rate.
    * The dup-id sliver comes from the shared LSH path; the corpus pays
    * one projection and one left join. */
  val q245_dup_by_quality: Q = (s, d) => {
    val dupIds = dupIdSliver(nearDupEdges(s, d, 0.7))
    Tables.documents(s, d).select(col("doc_id"),
        floor(round(TextAnalysis.qualityExpr, 6) * 10).as("q_bucket"))
      .join(dupIds, Seq("doc_id"), "left")
      .groupBy(col("q_bucket"))
      .agg(count(lit(1)).as("n_docs"), count(col("hit")).as("n_dup"))
      .withColumn("dup_rate",
        round(col("n_dup").cast("double") / col("n_docs"), 6))
      .orderBy(col("q_bucket"))
  }

  /** Gate row for [[spanCoverage]]: same % 5 split as q216. */
  val q225_span_coverage: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    spanCoverage(
      docs.filter(col("doc_id") % 5 =!= 3),
      docs.filter(col("doc_id") % 5 === 3),
      k = 8, minRun = 20)
  }

  /** Gate row for [[spanContamination]]: eval = every doc_id % 5 == 3
    * (a split that provably intersects the corpus's natural verbatim
    * runs — 9 leaking train docs at sf0.01), train = the rest. */
  val q216_span_decontamination: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    spanContamination(
      docs.filter(col("doc_id") % 5 =!= 3),
      docs.filter(col("doc_id") % 5 === 3),
      k = 8, minRun = 20)
  }

  /** Gate row for [[sharedSpans]]. The synthetic corpus is random token
    * soup with no natural long shared runs, so the query plants them:
    * every 50th doc gets a twin (doc_id + 1000000) embedding tokens
    * 5..34 of the original between constant guard phrases (guards are
    * shorter than k, so no pure-guard shingle exists to cross-link
    * twins). Planted via the single-scan explode shape, not a
    * self-union — see q111's history. The detector must report exactly
    * the planted pairs. */
  val q215_shared_spans: Q = (s, d) => {
    val twinText = concat(
      lit("left guard pad one two three "),
      concat_ws(" ", slice(split(trim(col("text")), " +"), 5, 30)),
      lit(" right guard pad four five six"))
    val corpus = Tables.documents(s, d)
      .select(explode(
        when(col("doc_id") % 50 === 0,
          array(struct(col("doc_id"), col("text")),
                struct((col("doc_id") + 1000000L).as("doc_id"), twinText.as("text"))))
        .otherwise(array(struct(col("doc_id"), col("text"))))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
    sharedSpans(corpus, k = 8, minRun = 20, dfCap = 64)
  }

  /** Fuzzy-key pairs (entity resolution / record linkage): all id pairs
    * whose string keys are within edit distance 1, found by
    * deletion-neighborhood blocking — every string emits itself plus its
    * length single-char deletions as signatures; two strings within
    * distance 1 necessarily share a signature (substitution: delete the
    * differing position from both; insert/delete: the shorter string IS
    * a deletion of the longer), so a signature equi-join finds every
    * true pair and an exact levenshtein refilter removes the false ones
    * (e.g. transposition "ab"/"ba" shares "a" but has distance 2).
    *
    * Scale shape: |s|+1 signatures per row, one equi-join keyed on
    * signature, distinct, then the exact check on candidates only —
    * never an all-pairs product (an all-pairs levenshtein over N names
    * is the O(N^2) trap this operator exists to avoid). For long
    * strings, block on a bounded prefix or token-level deletions; for
    * distance d, use d-deletion neighborhoods (size ~|s|^d — the
    * practical limit of the method, d <= 2). */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val sigs = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .withColumn("sig", explode(expr(
        "array_union(array(s), transform(sequence(1, length(s)), " +
        "i -> concat(substring(s, 1, i - 1), substring(s, i + 1, length(s)))))")))
    sigs.as("a").join(sigs.as("b"), "sig")
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
              col("a.s").as("sa"), col("b.s").as("sb"))
      .distinct()
      .filter(levenshtein(col("sa"), col("sb")) <= 1)
      .select(col("ida"), col("idb"),
              levenshtein(col("sa"), col("sb")).as("dist"))
  }

  /** Gate row: near-identical supplier names (serial numbers differ by
    * one digit) — the oracle recomputes by brute-force levenshtein, so
    * blocking recall (every true pair) and refilter precision (no false
    * pair) must both be exact. */
  val q260_fuzzy_name_pairs: Q = (s, d) =>
    fuzzyPairs(Tables.supplier(s, d), "s_suppkey", "s_name")
      .orderBy(col("ida"), col("idb"))

  val queries: Map[String, Q] = Map(
    "q260_fuzzy_name_pairs" -> q260_fuzzy_name_pairs,
    "q209_filter_funnel" -> q209_filter_funnel,
    "q215_shared_spans" -> q215_shared_spans,
    "q216_span_decontamination" -> q216_span_decontamination,
    "q225_span_coverage" -> q225_span_coverage,
    "q229_span_scrub" -> q229_span_scrub,
    "q230_cross_source_dup" -> q230_cross_source_dup,
    "q234_source_dup_rate" -> q234_source_dup_rate,
    "q240_effective_tokens" -> q240_effective_tokens,
    "q245_dup_by_quality" -> q245_dup_by_quality,
    "q64_dedup_exact" -> q64_dedup_exact,
    "q65_minhash_lsh" -> q65_minhash_lsh,
    "q66_simhash" -> q66_simhash,
    "q268_simhash_md5" -> q268_simhash_md5,
    "q280_containment" -> q280_containment,
    "q67_ngram_jaccard" -> q67_ngram_jaccard,
    "q123_dedup_clusters" -> q123_dedup_clusters,
    "q124_dedup_keep_best" -> q124_dedup_keep_best,
    "q201_incremental_dedup" -> q201_incremental_dedup,
  )

  /** Shared eval/train span-oracle SQL (q216/q225/q229): tokenize ->
    * positional 8-shingles -> cross eval/train shingle matches on the
    * %5 split -> per-diagonal islands. MUST shingle identically to the
    * Scala side (positionalShingles) — change either side only with the
    * other, and q215 keeps its own bespoke corpus variant. */
  private val spanMatchCtes: String =
    """WITH toks AS (
        |  SELECT doc_id, s FROM (
        |    SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS s FROM documents)
        |  WHERE len(s) >= 8),
        |sh AS (
        |  SELECT doc_id, pos, array_to_string(s[pos:pos+7], ' ') AS sh
        |  FROM (SELECT doc_id, s, unnest(range(1, len(s) - 6)) AS pos FROM toks)),
        |m AS (
        |  SELECT e.doc_id AS eval_id, t.doc_id AS train_id, t.pos AS pa,
        |         t.pos - e.pos AS diag
        |  FROM sh t JOIN sh e ON t.sh = e.sh
        |  WHERE t.doc_id % 5 <> 3 AND e.doc_id % 5 = 3),
        |isl AS (
        |  SELECT eval_id, train_id, diag, pa,
        |         pa - row_number() OVER (PARTITION BY eval_id, train_id, diag ORDER BY pa) AS island
        |  FROM m)""".stripMargin

  /** Qualifying spans (run >= 20) -> interval-union sweep -> merged
    * [lo, hi] leak regions per train doc (q225/q229). */
  private val spanMergeCtes: String =
    """spans AS (
        |  SELECT train_id, min(pa) AS st, min(pa) + count(1) + 6 AS en
        |  FROM isl GROUP BY eval_id, train_id, diag, island
        |  HAVING count(1) + 7 >= 20),
        |swp AS (
        |  SELECT train_id, st, en,
        |    max(en) OVER (PARTITION BY train_id ORDER BY st, en
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_en
        |  FROM spans),
        |grp AS (
        |  SELECT train_id, st, en,
        |    SUM(CASE WHEN prev_en IS NULL OR st > prev_en THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY train_id ORDER BY st, en
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        |  FROM swp),
        |merged AS (SELECT train_id, g, min(st) AS lo, max(en) AS hi
        |           FROM grp GROUP BY train_id, g)""".stripMargin

  /** Shingle-set + threshold-filtered all-pairs CTEs shared by the
    * jaccard and connected-component oracles. */
  private def shPairsCtes(threshold: Double, docCap: Long = Long.MaxValue): String =
    s"""sh AS (
       |  SELECT doc_id, list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
       |    for i in range(1, len(s) - 1)]) AS shingles
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS s
       |        FROM documents WHERE doc_id < $docCap)
       |  WHERE len(s) >= 3),
       |pairs AS (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb,
       |    round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
       |          (len(a.shingles) + len(b.shingles)
       |           - len(list_intersect(a.shingles, b.shingles))), 6) AS jac
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
       |        (len(a.shingles) + len(b.shingles)
       |         - len(list_intersect(a.shingles, b.shingles))) >= $threshold)""".stripMargin

  private def jaccardAllPairsSql(threshold: Double, docCap: Long = Long.MaxValue): String =
    s"""WITH ${shPairsCtes(threshold, docCap)}
       |SELECT ida, idb, jac FROM pairs ORDER BY ida, idb""".stripMargin

  /** Transitive closure of the >= threshold near-dup pairs: symmetric
    * edge list, recursive reachability, per-vertex min reachable id. */
  private def ccCtes(threshold: Double): String =
    s"""${shPairsCtes(threshold)},
       |e AS (SELECT ida AS a, idb AS b FROM pairs
       |      UNION SELECT idb AS a, ida AS b FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
       |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q280_containment" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |    for i in range(1, len(s) - 1)]) AS shingles
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS s
        |        FROM documents)
        |  WHERE len(s) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |df AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
        |keep AS (SELECT ex.doc_id, ex.s FROM ex JOIN df USING (s) WHERE df <= 64),
        |sizes AS (SELECT doc_id, count(*) AS nsh FROM keep GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter
        |  FROM keep a JOIN keep b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT ida, idb, inter, sa.nsh AS na, sb.nsh AS nb,
        |  round(inter * 1.0 / least(sa.nsh, sb.nsh), 6) AS containment
        |FROM inter JOIN sizes sa ON ida = sa.doc_id
        |           JOIN sizes sb ON idb = sb.doc_id
        |WHERE round(inter * 1.0 / least(sa.nsh, sb.nsh), 6) >= 0.5
        |ORDER BY ida, idb""".stripMargin,
    "q268_simhash_md5" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, lower(tok) AS tok
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(text, '[^A-Za-z0-9]+')) AS tok
        |        FROM documents)
        |  WHERE tok <> ''
        |), h AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h32
        |  FROM toks
        |), bits AS (
        |  SELECT doc_id, j,
        |         sum(CASE WHEN (h32 >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, (SELECT unnest(generate_series(0, 31)) AS j)
        |  GROUP BY doc_id, j
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT)
        |    AS simhash32
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q260_fuzzy_name_pairs" ->
      """SELECT a.s_suppkey AS ida, b.s_suppkey AS idb,
        |  CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 1
        |ORDER BY ida, idb""".stripMargin,
    "q245_dup_by_quality" ->
      s"""WITH ${shPairsCtes(0.7)},
         |dup AS (SELECT DISTINCT doc_id FROM (
         |  SELECT ida AS doc_id FROM pairs UNION ALL SELECT idb FROM pairs)),
         |b AS (SELECT doc_id,
         |        CAST(floor(round(${TextAnalysis.qualitySql}, 6) * 10) AS BIGINT)
         |          AS q_bucket
         |      FROM documents)
         |SELECT b.q_bucket, count(1) AS n_docs,
         |  CAST(count(dup.doc_id) AS BIGINT) AS n_dup,
         |  round(CAST(count(dup.doc_id) AS DOUBLE) / count(1), 6) AS dup_rate
         |FROM b LEFT JOIN dup ON b.doc_id = dup.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q240_effective_tokens" ->
      s"""WITH RECURSIVE ${ccCtes(0.7)},
         |scored AS (SELECT doc_id, round(${TextAnalysis.qualitySql}, 6) AS q FROM documents),
         |r AS (SELECT c.comp, c.id,
         |        ROW_NUMBER() OVER (PARTITION BY c.comp ORDER BY s.q DESC, c.id) AS rn
         |      FROM comp c JOIN scored s ON s.doc_id = c.id),
         |losers AS (SELECT id AS doc_id FROM r WHERE rn > 1)
         |SELECT d.source, count(1) AS n_docs,
         |  CAST(count(CASE WHEN l.doc_id IS NULL THEN 1 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(len(regexp_split_to_array(trim(d.text), ' +'))) AS BIGINT)
         |    AS total_tokens,
         |  CAST(SUM(CASE WHEN l.doc_id IS NULL
         |             THEN len(regexp_split_to_array(trim(d.text), ' +')) END) AS BIGINT)
         |    AS effective_tokens
         |FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q234_source_dup_rate" ->
      s"""WITH ${shPairsCtes(0.7)},
         |dup AS (SELECT DISTINCT doc_id FROM (
         |  SELECT ida AS doc_id FROM pairs UNION ALL SELECT idb FROM pairs))
         |SELECT d.source, count(1) AS n_docs,
         |  CAST(count(dup.doc_id) AS BIGINT) AS n_dup,
         |  round(CAST(count(dup.doc_id) AS DOUBLE) / count(1), 6) AS dup_rate
         |FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q230_cross_source_dup" ->
      s"""WITH ${shPairsCtes(0.7)},
         |lab AS (SELECT doc_id, source FROM documents)
         |SELECT LEAST(a.source, b.source) AS source_x,
         |  GREATEST(a.source, b.source) AS source_y,
         |  count(1) AS n_dup_pairs
         |FROM pairs JOIN lab a ON ida = a.doc_id JOIN lab b ON idb = b.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q229_span_scrub" ->
      s"""$spanMatchCtes,
        |$spanMergeCtes,
        |tok AS (
        |  SELECT doc_id, pos, s[pos] AS tk
        |  FROM (SELECT doc_id, s, unnest(range(1, len(s) + 1)) AS pos
        |        FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS s
        |              FROM documents WHERE doc_id % 5 <> 3))
        |  WHERE doc_id IN (SELECT DISTINCT train_id FROM merged)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tk FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM merged mm
        |                    WHERE mm.train_id = t.doc_id
        |                      AND t.pos BETWEEN mm.lo AND mm.hi))
        |SELECT doc_id AS train_id, count(1) AS clean_ntok,
        |  string_agg(tk, ' ' ORDER BY pos) AS clean_text
        |FROM kept GROUP BY doc_id ORDER BY train_id""".stripMargin,
    "q225_span_coverage" ->
      s"""$spanMatchCtes,
        |$spanMergeCtes,
        |cov AS (SELECT train_id, count(1) AS n_regions, sum(hi - lo + 1) AS covered
        |        FROM merged GROUP BY train_id),
        |nt AS (SELECT doc_id AS train_id,
        |         len(regexp_split_to_array(trim(text), ' +')) AS ntok
        |       FROM documents WHERE doc_id % 5 <> 3)
        |SELECT c.train_id, CAST(n_regions AS BIGINT) AS n_regions,
        |  CAST(covered AS BIGINT) AS covered_tokens, CAST(ntok AS BIGINT) AS ntok,
        |  CAST(covered AS DOUBLE) / CAST(ntok AS DOUBLE) AS leak_frac
        |FROM cov c JOIN nt ON c.train_id = nt.train_id
        |ORDER BY c.train_id""".stripMargin,
    "q216_span_decontamination" ->
      s"""$spanMatchCtes,
        |runs AS (
        |  SELECT eval_id, train_id, count(1) + 7 AS run
        |  FROM isl GROUP BY eval_id, train_id, diag, island)
        |SELECT eval_id, train_id, max(run) AS max_run, count(1) AS n_spans
        |FROM runs WHERE run >= 20
        |GROUP BY eval_id, train_id ORDER BY eval_id, train_id""".stripMargin,
    "q215_shared_spans" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    'left guard pad one two three ' ||
        |    array_to_string(list_slice(regexp_split_to_array(trim(text), ' +'), 5, 34), ' ') ||
        |    ' right guard pad four five six' AS text
        |  FROM documents WHERE doc_id % 50 = 0),
        |toks AS (
        |  SELECT doc_id, s FROM (
        |    SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS s FROM corpus)
        |  WHERE len(s) >= 8),
        |sh AS (
        |  SELECT doc_id, pos, array_to_string(s[pos:pos+7], ' ') AS sh
        |  FROM (SELECT doc_id, s, unnest(range(1, len(s) - 6)) AS pos FROM toks)),
        |ok AS (
        |  SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS df FROM sh GROUP BY sh)
        |  WHERE df <= 64),
        |m AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb, a.pos AS pa,
        |         a.pos - b.pos AS diag
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  WHERE a.sh IN (SELECT sh FROM ok)),
        |isl AS (
        |  SELECT ida, idb, diag,
        |         pa - row_number() OVER (PARTITION BY ida, idb, diag ORDER BY pa) AS island
        |  FROM m),
        |runs AS (
        |  SELECT ida, idb, count(1) + 7 AS run
        |  FROM isl GROUP BY ida, idb, diag, island)
        |SELECT ida, idb, max(run) AS max_run, count(1) AS n_spans
        |FROM runs WHERE run >= 20
        |GROUP BY ida, idb ORDER BY ida, idb""".stripMargin,
    "q64_dedup_exact" ->
      """WITH g AS (SELECT text, MIN(doc_id) AS keep_id, COUNT(1) AS n_copies
        |           FROM documents GROUP BY text)
        |SELECT n_copies, COUNT(1) AS n_groups, MIN(keep_id) AS min_keep
        |FROM g GROUP BY n_copies ORDER BY n_copies""".stripMargin,
    "q65_minhash_lsh" -> jaccardAllPairsSql(0.7),
    "q209_filter_funnel" ->
      s"""WITH RECURSIVE ${ccCtes(0.7)},
         |f AS (SELECT doc_id,
         |  len(regexp_split_to_array(trim(text), ' +')) >= 25 AND length(text) <= 20000 AS f1,
         |  ${TextAnalysis.anyLangHitSql} AS lang_ok,
         |  (${TextAnalysis.qualitySql}) >= 0.6 AS q_ok,
         |  doc_id NOT IN (SELECT id FROM comp WHERE id <> comp) AS canon
         |  FROM documents)
         |SELECT COUNT(1) AS n_total,
         |  CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
         |  CAST(SUM(CASE WHEN f1 AND lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
         |  CAST(SUM(CASE WHEN f1 AND lang_ok AND q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(SUM(CASE WHEN f1 AND lang_ok AND q_ok AND canon THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical
         |FROM f""".stripMargin,
    "q201_incremental_dedup" ->
      s"""WITH ${shPairsCtes(0.7)}
         |SELECT ida, idb, jac FROM pairs
         |WHERE ida % 4 = 0 OR idb % 4 = 0
         |ORDER BY ida, idb""".stripMargin,
    "q67_ngram_jaccard" -> jaccardAllPairsSql(0.5, docCap = 1000),
    "q123_dedup_clusters" ->
      s"""WITH RECURSIVE ${ccCtes(0.7)}
         |SELECT comp, COUNT(1) AS n_members, MAX(id) AS max_id
         |FROM comp GROUP BY comp ORDER BY comp""".stripMargin,
    "q124_dedup_keep_best" ->
      s"""WITH RECURSIVE ${ccCtes(0.7)},
         |scored AS (SELECT doc_id, round(${TextAnalysis.qualitySql}, 6) AS q FROM documents),
         |r AS (SELECT c.comp, c.id, s.q,
         |        ROW_NUMBER() OVER (PARTITION BY c.comp ORDER BY s.q DESC, c.id) AS rn,
         |        COUNT(1) OVER (PARTITION BY c.comp) AS n_members
         |      FROM comp c JOIN scored s ON s.doc_id = c.id)
         |SELECT comp, n_members, id AS keep_id, q AS best_quality
         |FROM r WHERE rn = 1 ORDER BY comp""".stripMargin,
  )
}
