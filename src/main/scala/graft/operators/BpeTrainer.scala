package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables, pin}

/** Byte-pair-encoding merge-rule learning (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") — the
  * tokenizer-training half of the pipeline whose counting half q199
  * already pins. This is the Spark-shaped version of the classic
  * algorithm:
  *
  *   1. ONE corpus-sized pass: word frequencies. Everything after runs on
  *      the word-TYPE table — at 100 TB of text that is <=10^7 rows (Heaps'
  *      law), a ~10^5x reduction before the loop starts. This is the same
  *      collapse every production BPE trainer (subword-nmt, SentencePiece)
  *      does; skipping it would make each round a corpus scan.
  *   2. Each round: adjacent-pair counts weighted by word freq (map-side
  *      combined groupBy on the pair — vocab-sized shuffle), argmax read
  *      as ONE driver row (count desc, pair asc — deterministic
  *      tie-break), then the merge applied to the symbol arrays with an
  *      encoder-based Dataset map (vocab-sized, short arrays; this is the
  *      one place imperative per-row logic is the honest spelling — the
  *      greedy left-to-right merge is sequential by definition).
  *   3. Driver state is ONLY the learned merge list (rounds x few bytes).
  *      Every round's vocab is one [[graft.pin]], filled by the next
  *      round's argmax query, so round k does not recompute merges
  *      1..k-1 (the q123 connected-components discipline applied to a
  *      training loop).
  *
  * Reference tie-in: Hive has no tokenizer trainer; this is part of the
  * "operations a large-scale training-data pipeline needs" surface. The
  * oracle story: the loop is iterative-greedy and not SQL-expressible, so
  * the gate row is rows-only; BpeSpec holds the closed form — an
  * in-memory reference implementation replayed on small corpora must
  * match the distributed trainer merge-for-merge, plus determinism and
  * frequency-scale invariance pins.
  */
object BpeTrainer {

  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  /** End-of-word marker, as in the original paper (distinguishes "est"
    * inside a word from "est" at the end). */
  val EndOfWord = "</w>"

  def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Greedy leftmost simultaneous application of one merge to a symbol
    * sequence — the exact subword-nmt semantics. */
  private[graft] def applyMerge(syms: IndexedSeq[String], l: String, r: String): IndexedSeq[String] = {
    val out = new ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += (l + r); i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** Split into CODEPOINT symbols, not UTF-16 code units — a surrogate
    * pair (emoji, CJK-B) must stay one symbol or the learned merges and
    * encodings contain invalid lone-surrogate strings. */
  private[operators] def symbols(w: String): IndexedSeq[String] = {
    val out = scala.collection.immutable.IndexedSeq.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Learn up to `rounds` merges with corpus frequency >= minFreq. */
  def train(spark: SparkSession, docs: DataFrame, rounds: Int, minFreq: Long = 2L): Seq[Merge] = {
    import spark.implicits._
    // pinned, like every round's vocab, so the corpus pass runs once
    var vocab: Dataset[(Seq[String], Long)] = pin(wordFreq(docs)
      .as[(String, Long)]
      .map { case (w, f) => (symbols(w) :+ EndOfWord, f) })

    val merges = ArrayBuffer[Merge]()
    var round = 0
    var done = false
    while (round < rounds && !done) {
      val best = vocab
        .flatMap { case (syms, f) =>
          if (syms.length < 2) Iterator.empty
          else syms.iterator.zip(syms.iterator.drop(1)).map { case (a, b) => (a, b, f) }
        }
        .toDF("l", "r", "f")
        .groupBy(col("l"), col("r")).agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty || best(0).getLong(2) < minFreq) done = true
      else {
        val (l, r, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += Merge(merges.length + 1, l, r, cnt)
        vocab = pin(vocab.map { case (syms, f) =>
          (applyMerge(syms.toIndexedSeq, l, r): Seq[String], f) })
        round += 1
      }
    }
    merges.toSeq
  }

  /** Encode a word with a learned merge list (applied in rank order —
    * the inference half; used by the spec's round-trip pin). */
  def encodeWord(word: String, merges: Seq[Merge]): IndexedSeq[String] = {
    var syms: IndexedSeq[String] = symbols(word) :+ EndOfWord
    merges.foreach(m => syms = applyMerge(syms, m.left, m.right))
    syms
  }

  /** Gate row: learned merge table on the documents corpus. Iterative-
    * greedy training is not SQL-expressible, so this row is rows-only by
    * design; the counting stage it iterates is oracle-pinned as q199 and
    * the full loop is closed-form-pinned in BpeSpec. */
  val q270_bpe_train: Q = (s, d) => {
    import s.implicits._
    train(s, Tables.documents(s, d), rounds = 20)
      .map(m => (m.rank, m.left, m.right, m.freq))
      .toDF("rank", "left", "right", "freq")
      .orderBy(col("rank"))
  }

  val queries: Map[String, Q] = Map(
    "q270_bpe_train" -> q270_bpe_train,
  )

  val oracles: Map[String, String] = Map.empty
}
