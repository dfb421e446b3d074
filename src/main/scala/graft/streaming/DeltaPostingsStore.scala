package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The ONE read path for batchId-keyed posting delta stores — shared by
  * the BM25 (StreamPostings) and positional (StreamPosPostings) ingests
  * so the replay/reissue/tombstone contract cannot drift between them:
  *
  *  - only committed `delta_b<id>` / `fold_0_<hi>` dirs are visible
  *    ([[StoreSink.read]]) — an uncommitted delta never leaks into
  *    serving;
  *  - byte-identical replay overlap collapses under distinct() (delta
  *    content is a pure function of the batch);
  *  - a doc reissued in a later batch serves ONLY its newest batch's
  *    rows (max-b last-writer filter over the `b` column);
  *  - the per-doc tombstone markers (term = '') that keep max-b aware
  *    of empty-tokenizing reissues are dropped after that filter.
  *
  * Stores differ only in their row payload (tf/dl vs position arrays),
  * which is exactly the `schema` of their [[family]].
  */
private[streaming] object DeltaPostingsStore {

  /** Keep only each doc's max-b rows ([[StoreSink.lastWriter]]) — the
    * read filter, and the shrink of the stores' folds: a fold physically
    * drops superseded reissue postings and, for a tombstoned doc, its
    * old payload rows (the erasure path: reissue the doc with
    * empty-tokenizing text, then compact). The marker row survives when
    * it is the doc's newest input row — required by the crash contract
    * (a leftover input dir can resurrect old postings; the committed
    * fold's marker must still beat them at read).
    */
  private val lastWriterShrink: DataFrame => DataFrame = StoreSink.lastWriter("doc_id")

  /** A postings delta family with payload `schema`. */
  def family(schema: StructType): StoreSink.Family = StoreSink.delta(schema, lastWriterShrink)

  def read(spark: SparkSession, storeDir: String, family: StoreSink.Family): DataFrame =
    lastWriterShrink(StoreSink.read(spark, storeDir, family).distinct())
      .filter(col("term") =!= "")
}
