package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The distributed extraction job (SURVEY.md §3.4).
  *
  * Plan (hybrid, skew-aware):
  *
  *   scan (doc_id, spans)
  *     ├─ docs with <= spreadThreshold spans (the overwhelming mass):
  *     │    posexplode -> per-span extraction IN THE SCAN STAGE (narrow,
  *     │    zero pre-shuffle) — raw span bytes never cross the wire;
  *     └─ mega-docs (> threshold spans, the skew tail):
  *          posexplode -> repartition by (doc_id, pos/RunSize) so one
  *          document's spans spread across the cluster BEFORE the heavy
  *          work (salting; the reference's own parallel unit is the
  *          page, gdocai.go:77-111), then a TWO-PHASE stitch whose
  *          partial phase REUSES that partitioning
  *   union of per-doc results
  *
  * Shuffles carry only EXTRACTED text (much smaller than the raw
  * HTML/hOCR input): one exchange on the small path, two on the skew
  * path (3 total in the executed plan). Ordering always comes from the
  * data (`order` = span position), never from partition order.
  */
object Extract {

  /** Shared by the batch paths here and the streaming path
    * (StreamingOps.extractStream) — one definition, no drift. */
  private[graft] val extractUdf =
    udf((kind: String, text: String, mediaRef: String) =>
      SpanExtract.extractSpanText(kind, text, mediaRef))

  /** The kinds SpanExtract transforms; every other kind passes through
    * unchanged (SpanExtract's `case _ => text`), so the plan routes only
    * these through the opaque UDF — pass-through spans stay inside
    * whole-stage codegen instead of paying a serialize/deserialize hop.
    * Single source of truth for batch AND streaming extraction. */
  val ExtractedKinds = Seq("html", "pdf_layout", "media")

  /** Docs above this span count take the spread (salted) path. */
  val DefaultSpreadThreshold = 64

  private def extracted(exploded: DataFrame): DataFrame =
    exploded.select(
      col("doc_id"),
      col("span.kind").as("kind"),
      when(col("span.kind").isin(ExtractedKinds: _*),
          extractUdf(col("span.kind"), col("span.text"), col("span.media_ref")))
        .otherwise(col("span.text")).as("text"),
      col("span.media_ref").as("media_ref"),
      col("pos").as("order"))

  /** A materialized `n_spans` column (the corpus writer emits one) lets
    * the small/big split push down to parquet row-group statistics, so
    * the mega-doc branch's scan skips nearly every row group; without it
    * the split falls back to size(spans), which cannot push down. */
  private def withNSpans(input: DataFrame): DataFrame =
    if (input.columns.contains("n_spans")) input
    else input.withColumn("n_spans", size(col("spans")))

  private def preSplitExploded(input: DataFrame): DataFrame =
    input
      .select(col("doc_id"), col("n_spans"), col("part_idx"),
        posexplode(col("spans")).as(Seq("p", "span")))
      .select(col("doc_id"), col("n_spans"),
        (col("part_idx").cast("int") * PartSize + col("p")).as("pos"), col("span"))

  /** Single-shuffle stitch (the common case). */
  private def stitchSmall(ex: DataFrame): DataFrame =
    ex.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(
        col("order"), col("kind"), col("text"), col("media_ref")))).as("seq0"))
      .select(col("doc_id"), reorderFields(col("seq0")).as("span_seq"))

  /** Two-phase stitch for the skew tail: partial sorted runs per
    * (doc_id, order/RunSize), then a final merge of pre-sorted runs. */
  private def stitchBig(ex: DataFrame): DataFrame =
    ex.groupBy(col("doc_id"), floor(col("order") / RunSize).as("run_id"))
      .agg(array_sort(collect_list(struct(
        col("order"), col("kind"), col("text"), col("media_ref")))).as("run"))
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("run_id"), col("run")))),
        (r: Column) => r.getField("run"))).as("seq0"))
      .select(col("doc_id"), reorderFields(col("seq0")).as("span_seq"))

  /** Spans per partial-stitch run on the mega-doc path. */
  val RunSize = 1024

  /** Spans per storage part in the PRE-SPLIT layout (== RunSize so part
    * rows coincide with partial-stitch runs). The pre-split layout —
    * (doc_id, part_idx, spans, n_spans) with fixed-size chunks, written
    * by [[graft.fixtures.CorpusGen.preSplit]] — is the storage-level
    * answer to the one scale-killer of the single-row layout: a 100k-span
    * doc stored as ONE parquet row is unsplittable, so its scan (and the
    * extraction fused into it) runs on one task no matter how the rest of
    * the plan spreads. Stored as ~98 bounded rows, the scan itself
    * parallelizes and NO raw-byte repartition is needed at all — the
    * first exchange carries extracted text only. */
  val PartSize: Int = RunSize

  private def reorderFields(seq: Column): Column =
    transform(seq, (s: Column) => struct(
      s.getField("kind").as("kind"),
      s.getField("text").as("text"),
      s.getField("media_ref").as("media_ref"),
      s.getField("order").as("order")))

  /** Full job: (doc_id, spans) -> (doc_id, span_seq) sorted by `order`.
    *
    * Stitch is TWO-PHASE for mega-docs (SURVEY.md §4.3): partial sorted
    * runs per (doc_id, order/RunSize) — spread across reducers — then a
    * final merge of S pre-sorted runs per doc. The final reducer handles
    * S array objects instead of n_spans individual rows, bounding the
    * single-group memory/CPU spike the skew tail would otherwise cause.
    * Small docs keep the single-shuffle stitch (an extra exchange would
    * tax the common case). */
  def run(input: DataFrame, spreadThreshold: Int = DefaultSpreadThreshold): DataFrame = {
    if (input.columns.contains("part_idx"))
      return runPreSplit(input, spreadThreshold)
    val withN = withNSpans(input)

    val small = withN.filter(col("n_spans") <= spreadThreshold)
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
    val smallOut = stitchSmall(extracted(small))

    // spread at RUN granularity: the partial-stitch groupBy below keys on
    // exactly (doc_id, floor(pos/RunSize)), so Catalyst reuses this
    // partitioning and the extracted text is NOT shuffled a second time
    // before the partial stitch (one exchange saved on the skew path; a
    // 100k-span doc still fans out across ~100 reducers)
    val big = withN.filter(col("n_spans") > spreadThreshold)
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .repartition(col("doc_id"), floor(col("pos") / RunSize))
    val bigOut = stitchBig(extracted(big))

    smallOut.unionAll(bigOut)
  }

  /** Pre-split ingest: input is (doc_id, part_idx, spans, n_spans) with
    * fixed PartSize chunks (n_spans = the DOC total, the pushdown split
    * key). Global span position is reconstructed as
    * part_idx * PartSize + local position — order still comes from the
    * data, never from partition order.
    *
    * Plan shape: extraction fuses into the scan for BOTH paths (every
    * row is a bounded <= PartSize unit), so unlike the single-row layout
    * there is no raw-byte repartition anywhere; mega-docs hit the same
    * two-phase stitch, whose partial runs coincide with part rows. */
  private def runPreSplit(input: DataFrame, spreadThreshold: Int): DataFrame = {
    val exploded = preSplitExploded(input)
    val smallOut = stitchSmall(extracted(exploded.filter(col("n_spans") <= spreadThreshold)))
    val bigOut = stitchBig(extracted(exploded.filter(col("n_spans") > spreadThreshold)))
    smallOut.unionAll(bigOut)
  }

  /** The extract->curate capstone composition: run the full interleaved
    * extraction, stitch each doc's span texts into one string, then the
    * curation layer over the EXTRACTED text — exact-dup fingerprint
    * (min-doc representative) and a length gate, fixed reason priority.
    * Rows-only at the driver (the extraction half is not
    * SQL-expressible); invariants pinned by ExtractCurateSpec,
    * including a planted extracted-text duplicate. */
  def extractCurate(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    run(corpus)
      .select(col("doc_id"),
        concat_ws(" ", expr("transform(span_seq, sp -> sp.text)")).as("text"))
      .withColumn("fp", graft.queries.DedupQ.exactFp(col("text")))
      .withColumn("n_tokens",
        // split("") yields [""] (size 1) — an all-empty extraction must
        // report ZERO tokens, not one
        when(trim(col("text")) === "", lit(0L))
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("long")))
      .withColumn("rep", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .select(col("doc_id"), col("fp"), col("n_tokens"),
        when(col("doc_id") =!= col("rep"), "dup_extracted")
          .when(col("n_tokens") < 20, "too_short")
          .otherwise("kept").as("reason"))
      .orderBy(col("doc_id"))
  }
}
