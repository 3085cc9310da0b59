package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{TextOps, VectorOps}

/** End-to-end training-data curation pipeline — the capstone composition
  * a user of this library runs over a raw document corpus:
  *
  *   1. quality filter   (drop low-quality docs)
  *   2. normalization dedup (case/punct-only copies → canonical doc)
  *   3. exact dedup      (bag-of-words normalization, keep min doc_id)
  *   4. near-dup removal (MinHash+LSH dup CLUSTERS → keep each
  *      cluster's min-id representative, not just pairwise drops)
  *   5. tokenize + stats (token counts for the survivors)
  *
  * Every stage is a declarative DataFrame transform, so the whole
  * pipeline is ONE Catalyst plan per output: filters push into the scan,
  * the dedup anti-joins broadcast their (small) drop-lists, and nothing
  * materializes until the sink. At 100 TB each stage scales the same way
  * its standalone operator does (see TextOps scale notes).
  */
object TrainingDataPipeline {

  /** The quality floor a curated document must reach (d27/d40). */
  val MinQuality = 0.5

  /** The repetition gate: d40 drops a train doc whose d18 dup-3gram
    * fraction exceeds this. */
  val MaxDupFrac = 0.5

  /** Returns the curated corpus: one row per surviving document with
    * token statistics attached.
    *
    * r15 replan (measured, OPTIMIZATION_r15.md): the original
    * composition joined documents against FOUR independently-planned
    * stage subqueries (quality inner, norm-canonical semi, exact-
    * representative semi, near-dup anti), each of which re-scanned and
    * re-tokenized the corpus — 4 scans + 4 joins + ~10 exchanges for
    * memberships that are all per-row or min-per-group facts. Now ONE
    * scan computes the quality columns ([[TextOps.qualityBase]] —
    * shared with d04/d34) plus both dedup fingerprints
    * ([[TextOps.normTextCol]] / [[TextOps.bagHashCol]] — the d14/d01
    * expressions, shared so they cannot drift), projects NARROW rows
    * (the text/toks payload never rides an exchange — guide §2.3), and
    * two min-window passes replace the semi joins: doc_id = min over
    * the fingerprint partition IS d14's canonical / d01's keeper
    * membership. Quality and window filters apply after the windows,
    * over the full-corpus groups, exactly as the join form did. Only
    * the near-dup drop list stays a join (it needs the LSH pair graph
    * — session-cached, broadcast). d27 1.0 s → ~0.5 s at sf0.1; d40
    * inherits the same savings. */
  def curate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dropNear = TextOps.dupClusters(spark, sfDir)
      .filter($"doc_id" =!= $"cluster_id")
      .select($"doc_id")
    val wNorm = Window.partitionBy($"norm_md5")
    val wExact = Window.partitionBy($"norm_hash")
    TextOps.qualityBase(spark, sfDir)
      .withColumn("norm_md5", md5(TextOps.normTextCol))
      .withColumn("norm_hash", TextOps.bagHashCol)
      .select($"doc_id", $"lang", $"source", $"n_chars", $"n_tokens",
        $"quality", $"norm_md5", $"norm_hash")
      .withColumn("norm_min", min($"doc_id").over(wNorm))
      .withColumn("exact_min", min($"doc_id").over(wExact))
      .filter($"quality" >= MinQuality &&
        $"doc_id" === $"norm_min" && $"doc_id" === $"exact_min")
      .join(broadcast(dropNear), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", $"source", $"n_chars",
        round($"quality", 4).as("quality"), $"n_tokens")
      .orderBy($"doc_id")
  }

  /** Survivors enriched with an embedding (by doc_id ↔ vec_id at fixture
    * scale) and their cell assignment for downstream ANN dedupe. */
  def curateWithEmbeddings(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id".as("doc_id"), $"embedding", $"label")
    curate(spark, sfDir).join(emb, Seq("doc_id"), "inner")
  }

  /** The full pre-training data path: curate → restrict to the TRAIN
    * split → repetition filter → benchmark decontamination → sequence
    * packing. Output is one row per packed training sequence, ready for
    * a tokenizer shard writer.
    *
    *   6. train-split restriction (the packed output is TRAINING data;
    *      the held-out val/test docs — the ones decontamination
    *      protects — must never reach it, and unsampled docs are out of
    *      the mix by definition; one shared split derivation
    *      [[TextOps.withSampleSplit]] guarantees this is the SAME
    *      partition decontamination checks)
    *   7. repetition gate  (drop docs whose dup-3gram fraction exceeds
    *      the Gopher-style threshold — catches boilerplate/spam the
    *      quality score misses)
    *   8. decontamination  (drop train docs sharing an n-gram with the
    *      held-out eval split; broadcast held-out set)
    *   9. packing          (per-source 2048-token context windows, the
    *      same [[TextOps.packCore]] the standalone operator runs)
    *
    * Still one declarative plan: the split restriction is a per-row
    * hash predicate, the two gates are broadcast anti-joins against
    * small drop-lists, and packing's window runs shard-parallel over
    * whatever survives. */
  def curateAndPack(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val trainIds = TextOps.withSampleSplit(Tables.documents(spark, sfDir))
      .filter($"split" === "train").select($"doc_id")
    // repetition DROP LIST = docs whose d18 dup-3gram fraction exceeds
    // MaxDupFrac: d18 itself ([[TextOps.repetition]] — per-doc explode →
    // hash-agg of the 3-grams and of the top 2-gram, joined on doc_id),
    // filtered, so the gate and d18 can never disagree.
    val dropRepetitive = TextOps.repetition(spark, sfDir)
      .filter($"dup_3gram_frac" > MaxDupFrac)
      .select($"doc_id")
    // contamination DROP LIST = train docs with ≥1 shared shingle —
    // exactly d15's hit set (its n_ngrams/ratio columns exist only for
    // reporting), without d15's per-doc-size join re-scanning the
    // corpus. Shared [[TextOps.hashedShingles]] definition.
    val splitDocs = TextOps.withSampleSplit(TextOps.docsWithToks(spark, sfDir))
    val dropContaminated = TextOps
      .hashedShingles(splitDocs.filter($"split" === "train"))
      .join(broadcast(TextOps.hashedShingles(
          splitDocs.filter($"split" === "test"))
        .select($"h").distinct()), "h")
      .select($"doc_id").distinct()
    val survivors = curate(spark, sfDir)
      .join(trainIds, Seq("doc_id"), "left_semi")
      .join(broadcast(dropRepetitive), Seq("doc_id"), "left_anti")
      .join(broadcast(dropContaminated), Seq("doc_id"), "left_anti")
    TextOps.packCore(
      survivors.select($"doc_id", $"source", $"n_tokens".as("n_tok")),
      2048L)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d27_curate" -> ((s, dir) => curate(s, dir)),
    "d40_curate_pack" -> ((s, dir) => curateAndPack(s, dir)),
  )

  /** The d27 curate stages as a shared CTE body (ending in `surv`):
    * d04's quality arithmetic, d14's normalization canonical, d01's
    * bag-of-words keeper, and d12's recursive dup clusters (embedded
    * verbatim from `TextOps.oracles` so the stages can never drift
    * from their standalone contracts). d27 selects `surv` directly;
    * d40 keeps composing. */
  private def curateCtes: String =
    s"""qt AS (SELECT doc_id, n_chars, str_split(text, ' ') AS toks
       |  FROM documents),
       |qm AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
       |  CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'in')))
       |    AS BIGINT) AS n_stop
       |  FROM qt),
       |q AS (SELECT doc_id, n_tokens,
       |  (((n_uniq * 4000 + (n_tokens - n_stop) * 3000
       |    + least(100, n_tokens) * 30 * n_tokens) * 20000 + n_tokens * 10000)
       |   // (n_tokens * 20000)) / 10000.0 AS quality FROM qm),
       |keep_norm AS (SELECT doc_id FROM (SELECT doc_id,
       |  min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))) AS canonical_id
       |  FROM documents) WHERE doc_id = canonical_id),
       |keep_exact AS (SELECT min(doc_id) AS doc_id FROM documents
       |  GROUP BY md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' '))),
       |clusters AS (SELECT * FROM (${TextOps.oracles("d12_dup_clusters")}) z),
       |drop_near AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id),
       |surv AS (SELECT d.doc_id, d.lang, d.source, d.n_chars, q.quality,
       |  q.n_tokens
       |FROM documents d JOIN q USING (doc_id)
       |WHERE q.quality >= 0.5
       |  AND d.doc_id IN (SELECT doc_id FROM keep_norm)
       |  AND d.doc_id IN (SELECT doc_id FROM keep_exact)
       |  AND d.doc_id NOT IN (SELECT doc_id FROM drop_near))""".stripMargin

  val oracles: Map[String, String] = Map(
    "d27_curate" ->
      s"""WITH $curateCtes
         |SELECT doc_id, lang, source, n_chars, quality, n_tokens
         |FROM surv ORDER BY doc_id""".stripMargin,
    // the FULL pre-training path: curate → train-split restriction
    // (d13's md5 membership) → Gopher repetition gate (d18's dup-3gram
    // arithmetic) → n-gram decontamination (d15's held-out probe) →
    // 2048-token packing (d17's cum-window grouping) — every stage's
    // SQL embedded with the same constants its standalone oracle uses
    "d40_curate_pack" ->
      s"""WITH $curateCtes,
         |spl AS (SELECT doc_id FROM (SELECT doc_id, lang,
         |  substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2) AS kb,
         |  substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS sb
         |  FROM documents) x
         |  WHERE kb < CASE WHEN lang = 'en' THEN '80' ELSE '33' END
         |    AND sb < 'cc'),
         |rt AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents
         |  WHERE len(str_split(text, ' ')) >= 3),
         |rg3 AS (SELECT doc_id, count(*) AS n3, count(DISTINCT g) AS nd3
         |  FROM (SELECT doc_id,
         |    unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |      for i in range(1, len(toks) - 1)]) AS g FROM rt) x
         |  GROUP BY doc_id),
         |drop_rep AS (SELECT doc_id FROM rg3
         |  WHERE (((n3 - nd3) * 20000 + n3) // (n3 * 2)) / 10000.0 > 0.5),
         |cd AS (SELECT doc_id, lang, str_split(text, ' ') AS toks,
         |  substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2) AS kb,
         |  substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS sb
         |  FROM documents),
         |ck AS (SELECT doc_id, toks, CASE WHEN sb < 'cc' THEN 'train'
         |  WHEN sb < 'e6' THEN 'val' ELSE 'test' END AS split
         |  FROM cd WHERE kb < CASE WHEN lang = 'en' THEN '80' ELSE '33' END
         |  AND len(toks) >= 3),
         |csh AS (SELECT doc_id, split,
         |  unnest(list_distinct([toks[g] || ' ' || toks[g+1] || ' ' || toks[g+2]
         |    for g in range(1, len(toks) - 1)])) AS s FROM ck),
         |cho AS (SELECT DISTINCT s FROM csh WHERE split = 'test'),
         |drop_cont AS (SELECT DISTINCT c.doc_id FROM csh c JOIN cho USING (s)
         |  WHERE c.split = 'train'),
         |fin AS (SELECT doc_id, source, n_tokens AS n_tok FROM surv
         |  WHERE doc_id IN (SELECT doc_id FROM spl)
         |    AND doc_id NOT IN (SELECT doc_id FROM drop_rep)
         |    AND doc_id NOT IN (SELECT doc_id FROM drop_cont)),
         |cum AS (SELECT doc_id, source, n_tok,
         |  sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM fin)
         |SELECT source, CAST((cum - n_tok) // 2048 AS BIGINT) AS seq_id,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM cum GROUP BY source, seq_id ORDER BY source, seq_id""".stripMargin,
  )
}
