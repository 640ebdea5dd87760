import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

package object graft {
  /** A named query in the driver contract: (session, sf-dir) => result. */
  type Q = (SparkSession, String) => DataFrame

  /** The one pin for intermediates the downstream plan reads more than
    * once: band indexes, candidate slivers, connected-components rounds,
    * BPE vocab rounds. Unpinned, every reference re-plans the whole
    * upstream lineage as its own subtree, and AQE's stage reuse does not
    * collapse the copies: joins infer IsNotNull filters per consumer, so
    * the duplicated scans canonicalize differently (measured r14: q65's
    * executed plan held 34 separate scans of `documents`, one per
    * duplicated shingle lineage). A pin in a loop also keeps the plan
    * O(1) deep instead of growing with the round count.
    *
    * The mode follows the SparkContext, so there is no flag to pass:
    *
    *  - No checkpoint dir: `localCheckpoint(eager = false)`. Under AQE
    *    (on in [[graft.Session]]) building the pin runs every shuffle and
    *    broadcast stage below it as jobs, before any action; the stage
    *    after the child's last shuffle runs in the first action that
    *    reads the pin, which stores the rows in executor block storage
    *    for every later reader. The blocks are executor-local: losing an
    *    executor loses the pin and fails the query.
    *  - Checkpoint dir set (`spark.checkpoint.dir` or
    *    `SparkContext.setCheckpointDir`): an eager reliable `checkpoint`.
    *    Building the pin runs the child once, its last stage included,
    *    writing the rows to files under the dir, and every reader reads
    *    those files, so the pin survives executor loss. A lazy reliable
    *    checkpoint would run the last stage twice: once in the first
    *    action, once more in the job that writes the files.
    *
    * Pinned sets are sliver-sized (band index: docs x bands rows;
    * candidate pairs and shingles; the vertex set; the word-type vocab),
    * never the corpus, so either mode stores little. */
  def pin[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint(eager = true)
    else ds.localCheckpoint(eager = false)
}
