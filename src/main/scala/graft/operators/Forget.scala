package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten propagation — the deletion flow a GDPR/CCPA
  * erasure request actually triggers against a 100 TB corpus: a
  * document is not one row in one table, it is postings in the keyword
  * index, position lists in the phrase index, and a code row in the
  * ANN index, and an erasure that misses ONE of them keeps the content
  * retrievable. [[forgetDocs]] fans the same id list out to every
  * maintained store's single-publish delete and returns a per-store
  * audit report (the evidence trail an erasure workflow must retain).
  *
  * Design points, deliberately inherited rather than re-invented:
  *  - Each leg IS that store's existing CRUD delete
  *    ([[Retrieval.deletePostings]] — refreshes df, the one global
  *    statistic; [[Retrieval.deletePosPostings]] and
  *    [[VectorOps.deleteCodes]] — pure removals), so
  *    forget-then-serve equals serve-over-a-corpus-that-never-had-the-
  *    docs, store by store (OpsSpec pins all three equalities plus the
  *    serving-path exclusion).
  *  - Derived dictionary state (`base + "_dict"`) needs NO explicit
  *    invalidation: [[Retrieval.termDictStore]] keys on the store
  *    VERSION, and every delete publishes a new version — the next
  *    dictionary read rebuilds by construction.
  *  - Atomicity is per store, not global: each leg is one pointer-flip
  *    publish, and legs run in sequence. A reader can never see a
  *    half-deleted STORE; it can see store A deleted while store B's
  *    delete is in flight — the same eventual-erasure contract real
  *    erasure pipelines document (erasure is a workflow with a
  *    deadline, not a cross-system transaction). The report records
  *    per-leg row counts so an incomplete run is visible, re-runnable
  *    (every leg is idempotent), and auditable.
  *  - 100 TB shape: each leg is one anti-join against a broadcast id
  *    list over the store's bucketed layout + rewrite — no corpus
  *    read, no pair work; cost is proportional to store size, and the
  *    retention machinery keeps `keepVersions` prior versions readable
  *    for time-travel until maintenance prunes them (an erasure SLA
  *    therefore also bounds the retention window — noted here because
  *    auditors ask exactly that question).
  *  - STREAMING stores are deliberately NOT legs here: their delta
  *    dirs are owned by the ingest checkpoint (writing one out-of-band
  *    would break the batchId epoch guard), so erasure routes through
  *    the owning stream — a tombstone row (NULL embedding for
  *    `StreamVec`; an empty-tokenizing reissue for the postings
  *    ingests) stops the key serving at that trigger, and the
  *    last-writer-aware compaction (`StoreSink.fold` of those stores,
  *    whose families declare the last-writer shrink)
  *    physically removes the payload rows once the tombstone's delta
  *    is foldable (one committed batch later). Same
  *    eventual-with-deadline contract as the retention note above;
  *    StreamingSpec pins the physical removal and its crash safety.
  */
object Forget {

  /** One store's erasure evidence: rows before/after the delete, the
    * published version serving readers afterwards, and — because the
    * retention machinery deliberately keeps prior versions readable as
    * time-travel targets until later maintenance prunes them — the
    * complete PRIOR versions still on disk after this leg. An erasure
    * workflow consuming this report must treat the request as fully
    * honored only once `retainedPriorVersions` is empty (or those
    * versions are independently pruned); surfacing them here keeps the
    * evidence trail honest about what is actually still readable via
    * readVersion/rollback.
    */
  final case class StoreReport(store: String, rowsBefore: Long,
      rowsAfter: Long, version: String, retainedPriorVersions: Seq[String])

  /** The maintained stores one erasure request must reach. Absent legs
    * are skipped (a deployment without a phrase index has no
    * positional store to erase).
    */
  final case class Targets(postings: Option[String] = None,
      posPostings: Option[String] = None, codes: Option[String] = None)

  private def publishedVersion(s: SparkSession, base: String): String =
    graft.sinks.VersionedStore.readPointer(s, base).map(_.version).getOrElse("")

  /** Erase `ids` from every present store; returns one [[StoreReport]]
    * per leg, in execution order. Idempotent: a re-run (the recovery
    * path for a run that died mid-sequence) publishes fresh versions
    * whose row counts equal the previous ones.
    *
    * `immediatePrune = true` additionally collapses each store's
    * retention to the just-published version
    * ([[graft.sinks.VersionedStore.pruneToPointer]]) so the report can
    * attest `retainedPriorVersions` empty — the erasure-SLA mode where
    * the time-travel window is itself residual data. The default keeps
    * the ordinary retention behavior (prior versions readable until
    * later maintenance prunes them) and the report surfaces them.
    */
  def forgetDocs(s: SparkSession, ids: Seq[Long], targets: Targets,
      immediatePrune: Boolean = false): Seq[StoreReport] = {
    import s.implicits._
    val docIds = ids.toDF("doc_id")
    val vecIds = ids.toDF("vec_id")
    val legs = Seq(
      targets.postings.map(b => ("bm25_postings", b,
        () => Retrieval.deletePostings(s, b, docIds))),
      targets.posPostings.map(b => ("positional_postings", b,
        () => Retrieval.deletePosPostings(s, b, docIds))),
      targets.codes.map(b => ("ann_codes", b,
        () => VectorOps.deleteCodes(s, b, vecIds)))).flatten
    legs.map { case (name, base, del) =>
      // Capture the pointer ONCE and count that same version, so the
      // report's (rowsBefore, rowsAfter, version) triple is self-
      // consistent even if concurrent maintenance interleaves: the
      // before-count is of a named version, never of whatever the
      // pointer happens to serve mid-leg. If that version is pruned
      // between capture and count, the count fails loudly (readVersion
      // throws) rather than attributing a different version's rows.
      val pointerBefore = graft.sinks.VersionedStore.readPointer(s, base)
      val before = pointerBefore
        .map(p => graft.sinks.VersionedStore.readVersion(s, base, p.version).count())
        .getOrElse(0L)
      val after = del().count()
      val version = publishedVersion(s, base)
      if (immediatePrune)
        graft.sinks.VersionedStore.pruneToPointer(s, base)
      // complete versions still readable besides the served one — the
      // retention window an erasure auditor must see (scaladoc above;
      // empty when immediatePrune collapsed it)
      val retained = graft.sinks.VersionedStore.listVersions(s, base)
        .filterNot(_ == version)
      StoreReport(name, before, after, version, retained)
    }
  }
}
