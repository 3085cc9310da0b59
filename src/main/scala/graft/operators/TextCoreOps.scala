package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Det
import graft.functions.Det.r4

/** The shared document reader every text module builds on
  * ([[docsWithToks]]), the normalization and fingerprint expressions the
  * curation pipeline reuses ([[normTextCol]], [[bagHashCol]],
  * [[Gram3Sql]], [[withSampleSplit]]), and the exact-dedup queries:
  * bag-of-words dedup (d01), normalize-then-dedup canonicalization
  * (d14), fingerprinting (d05), deterministic sample split (d13) and
  * the snapshot diff (d49). See [[TextOps]] for the module scaladoc. */
trait TextCoreOps {
  private[graft] def docsWithToks(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))

  /** Exact dedup under bag-of-words normalization: documents whose
    * sorted distinct-token set is identical form one dup group. */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    docsWithToks(spark, sfDir)
      .withColumn("norm_hash", bagHashCol)
      .groupBy($"norm_hash")
      .agg(min($"doc_id").as("keep_id"),
        count(lit(1)).as("n_copies"),
        expr("array_join(transform(array_sort(collect_set(doc_id)), x -> cast(x as string)), ',')")
          .as("members"))
      .orderBy($"keep_id")
  }

  /** Text normalization + canonical dedup: lowercase, strip
    * non-alphanumerics, collapse whitespace; fingerprint the normalized
    * text and map every document to the minimum doc_id sharing its
    * fingerprint — the pre-pass that catches case/punctuation-only
    * duplicates before any fuzzy dedup runs. Pure per-row codegen
    * (lower/regexp_replace/md5) plus ONE hash-partitioned window by
    * fingerprint — no joins; at 100 TB the fingerprint groups are tiny,
    * so the window shuffle is skew-free. */
  /** The d14 normalization expression over `text` — ONE definition
    * shared by [[normalizeDedup]] and the curation pipeline's inlined
    * canonical-membership window ([[graft.pipeline
    * .TrainingDataPipeline]]), so the two can never drift. */
  private[graft] def normTextCol: org.apache.spark.sql.Column =
    trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))

  /** The d01 bag-of-words fingerprint over `toks` — shared with the
    * curation pipeline like [[normTextCol]]. */
  private[graft] def bagHashCol: org.apache.spark.sql.Column =
    md5(expr("concat_ws(' ', array_sort(array_distinct(toks)))"))

  /** The raw 3-gram array over `toks` (requires size(toks) ≥ 3) — ONE
    * SQL fragment shared by d18's repetition signals and the curation
    * pipeline's per-row repetition gate ([[graft.pipeline
    * .TrainingDataPipeline]]), so the gram definition cannot drift. */
  private[graft] val Gram3Sql: String =
    """transform(sequence(0, size(toks)-3),
      g -> concat_ws(' ', toks[g], toks[g+1], toks[g+2]))"""

  def normalizeDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .withColumn("norm", normTextCol)
      .select($"doc_id",
        md5($"norm").as("norm_md5"),
        size(split($"norm", " ")).cast("long").as("n_norm_tokens"))
      .withColumn("canonical_id",
        min($"doc_id").over(Window.partitionBy($"norm_md5")))
      .orderBy($"doc_id")
  }

  /** Document fingerprints: whole-text md5/sha256 + winnowing-style
    * min-shingle fingerprint (min md5 over 5-token shingles). */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    docsWithToks(spark, sfDir)
      .select($"doc_id",
        md5($"text").as("md5_text"),
        sha2($"text", 256).as("sha256_text"),
        // guard: size(toks) < 5 would make sequence(0, size-5) descend
        // into bogus partial shingles; the oracle's empty range yields
        // NULL, so emit NULL for short documents on this side too
        expr("""CASE WHEN size(toks) >= 5 THEN
               array_min(transform(sequence(0, size(toks)-5),
               g -> md5(concat_ws(' ', toks[g], toks[g+1], toks[g+2], toks[g+3], toks[g+4]))))
               END""")
          .as("min_shingle_md5"))
      .orderBy($"doc_id")
  }

  /** Deterministic stratified sampling + train/val/test split — the
    * training-data-mixing staple, done the way it scales: NO RNG and NO
    * shuffle. Membership is a pure function of the row key (a hex
    * prefix of md5 compared against a per-stratum threshold), so the
    * sample is reproducible across engines, runs, and cluster sizes,
    * and re-running on grown data keeps prior decisions stable. Rates:
    * 'en' keeps 128/256 of docs, other langs 51/256; kept docs split
    * 204/26/26 per 256 into train/val/test on an independent salt. */
  /** The deterministic sample/split membership on any documents-shaped
    * DataFrame — ONE implementation shared by [[sampleSplit]],
    * [[decontaminate]], and the curation pipeline, so a rate change can
    * never leave a consumer checking a different partition than the one
    * it claims to. */
  private[graft] def withSampleSplit(df: DataFrame): DataFrame =
    df
      .withColumn("keep_bucket",
        substring(md5(concat(lit("sample:"), col("doc_id").cast("string"))), 1, 2))
      .filter(col("keep_bucket") <
        when(col("lang") === "en", "80").otherwise("33"))
      .withColumn("split_bucket",
        substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2))
      .withColumn("split",
        when(col("split_bucket") < "cc", "train")
          .when(col("split_bucket") < "e6", "val")
          .otherwise("test"))

  def sampleSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    withSampleSplit(docsWithToks(spark, sfDir))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n"),
        min($"doc_id").as("min_doc"),
        max($"doc_id").as("max_doc"),
        sum(size($"toks")).as("total_tokens"))
      .orderBy($"lang", $"split")
  }

  /** d49: corpus snapshot diff — the incremental-ingest planning step:
    * given the previous and current snapshot of a keyed corpus, which
    * documents were ADDED, REMOVED, or CHANGED (content hash differs),
    * and how much re-embedding/re-indexing work that implies (changed +
    * added character volume). The fixture stands the two snapshots up
    * deterministically so all four statuses occur: the OLD snapshot
    * holds docs with id % 5 ≠ 4 (original text), the NEW one docs with
    * id % 7 ≠ 6, where docs with id % 3 = 0 carry an edited text
    * (suffix marker) — so removed/added/changed/unchanged are all
    * non-empty and the diff logic is what is under test. Output:
    * per-status doc counts and char volumes plus the per-status min
    * key as a spot-check anchor.
    *
    * Scale design: the diff is ONE full-outer hash join on the snapshot
    * key (both sides pre-collapsed to (key, md5, chars) map-side — the
    * text column never shuffles), then a ≤4-row status rollup. At
    * 100 TB this is the shape that decides how much of the embedding/
    * index pipeline reruns — the whole point of keying corpora. */
  /** d49/s39 synthetic-snapshot split rules — ONE definition for the
    * batch diff, the streaming CDC changelog builder, and both oracle
    * strings (drift-proof literals). */
  private[graft] val SnapOldMod = 5L   // in OLD iff k % 5 ≠ 4
  private[graft] val SnapNewMod = 7L   // in NEW iff k % 7 ≠ 6
  private[graft] val SnapEditMod = 3L  // NEW text edited iff k % 3 = 0

  /** The old/new snapshot projections (k, h, chars) — shared by the
    * d49 batch join and the s39 streaming changelog builder. */
  private[graft] def snapshotSides(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id".as("k"), $"text",
        $"n_chars".cast("long").as("n_chars"))
    val old = docs.filter($"k" % SnapOldMod =!= (SnapOldMod - 1))
      .select($"k", md5($"text").as("h"), $"n_chars".as("chars"))
    val nw = docs.filter($"k" % SnapNewMod =!= (SnapNewMod - 1))
      .select($"k",
        md5(when($"k" % SnapEditMod === 0, concat($"text", lit(" v2")))
          .otherwise($"text")).as("h"),
        (when($"k" % SnapEditMod === 0, $"n_chars" + 3L)
          .otherwise($"n_chars")).as("chars"))
    (old, nw)
  }

  /** The d49 per-status rollup over (k, status, old_chars, new_chars)
    * rows — shared verbatim by the s39 streaming reduction. */
  private[graft] def snapshotDiffReduce(j: DataFrame): DataFrame = {
    import j.sparkSession.implicits._
    j.groupBy($"status")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce($"new_chars", lit(0L))).as("new_chars"),
        sum(coalesce($"old_chars", lit(0L))).as("old_chars"),
        min($"k").as("min_key"))
      .orderBy($"status")
  }

  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (old, nw) = snapshotSides(spark, sfDir)
    snapshotDiffReduce(old
      .select($"k", $"h".as("old_h"), $"chars".as("old_chars"))
      .join(nw.select($"k", $"h".as("new_h"), $"chars".as("new_chars")),
        Seq("k"), "full_outer")
      .withColumn("status",
        when($"old_h".isNull, "added")
          .when($"new_h".isNull, "removed")
          .when($"old_h" === $"new_h", "unchanged")
          .otherwise("changed")))
  }
}
