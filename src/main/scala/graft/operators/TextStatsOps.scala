package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{FixtureCache, Tables}
import graft.functions.Det
import graft.functions.Det.r4

/** TextOps seam 3/5: CORPUS STATISTICS — top terms (d02), language
  * stats/ID (d03/d10), TF-IDF (d09), regex tokens (d11), Zipf slope
  * (d33), BPE train/apply (d36) + tokenizer fertility (d48), bigram
  * LM (d16) + reference-LM filter (d53), repetition (d18), token
  * entropy (d26), PMI (d41), source drift (d43), bigram coverage
  * (d44). */
trait TextStatsOps extends TextCoreOps {
  this: TextLshOps with TextCurationOps =>
  /** Corpus term frequencies: top-50 tokens with doc frequencies. */
  def topTerms(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    docsWithToks(spark, sfDir)
      .select($"doc_id", explode($"toks").as("term"))
      .groupBy($"term")
      .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("df"))
      .orderBy(desc("n"), $"term")
      .limit(50)
  }

  /** Per-language corpus stats. */
  def langStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    docsWithToks(spark, sfDir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"),
        round(sum($"n_chars") / count(lit(1)).cast("double"), 2).as("avg_chars"),
        sum(size($"toks")).as("total_tokens"))
      .orderBy($"lang")
  }

  /** d41: top-20 token pairs by document-level PMI — the
    * distributional-semantics co-occurrence statistic (collocation
    * mining / phrase discovery for tokenizer seeding): PMI(a,b) =
    * ln(N·c(a,b) / (c(a)·c(b))) over document co-occurrence counts,
    * micro-rounded to 10⁻⁴ integer units (the d33 contract: ONE
    * engine-matching double op per pair, then exact integer ordering).
    *
    * Scale design: the pair table comes from a SELF-JOIN of the
    * per-doc distinct-token list keyed on doc_id — per-doc output is
    * c(doc)² in DISTINCT tokens (bounded by doc length, the standard
    * co-occurrence bound), never vocabulary². Marginals are one
    * hash-agg; at fixture scale they broadcast, at web scale the same
    * joins run shuffled on the token key. The c(a,b) ≥ 5 support
    * filter prunes before the marginal joins. */
  def pmiPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // r15: marginals + both self-join sides consume `dt` — checkpoint
    // the distinct-token explode once (the d09/d16 shared-subtree
    // lesson, OPTIMIZATION_r15.md)
    val dt = docsWithToks(spark, sfDir)
      .select($"doc_id", explode(array_distinct($"toks")).as("tok"))
      .localCheckpoint()
    val nDocs = Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("n_total"))
    val marg = dt.groupBy($"tok").agg(count(lit(1)).as("c"))
    val pairs = dt.as("a")
      .join(dt.as("b"), $"a.doc_id" === $"b.doc_id" && $"a.tok" < $"b.tok")
      .groupBy($"a.tok".as("ta"), $"b.tok".as("tb"))
      .agg(count(lit(1)).as("cab"))
      .filter($"cab" >= 5)
    pairs
      .join(broadcast(marg.select($"tok".as("ta"), $"c".as("ca"))), "ta")
      .join(broadcast(marg.select($"tok".as("tb"), $"c".as("cb"))), "tb")
      .crossJoin(broadcast(nDocs))
      .select($"ta", $"tb", $"cab", $"ca", $"cb",
        round(log(($"cab" * $"n_total") / ($"ca" * $"cb").cast("double"))
          * 10000).cast("long").as("pmi_micro"))
      .orderBy(desc("pmi_micro"), $"ta", $"tb").limit(20)
  }

  /** TF-IDF: top-3 terms per document (tf × ln(N/df), deterministic
    * tie-break on term). */
  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = docsWithToks(spark, sfDir)
    // r15: `tf` feeds both the df aggregation (broadcast side) and the
    // scoring join probe — left lazy, the tokenize + explode + count
    // aggregation ran TWICE per execution (the q19/d50 shared-subtree
    // lesson, OPTIMIZATION_r15.md). One checkpointed build.
    val tf = docs.select($"doc_id", explode($"toks").as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct($"doc_id").as("n_total"))
    val w = Window.partitionBy($"doc_id").orderBy(desc("score"), $"term")
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score",
        round($"tf" * log($"n_total" / $"df".cast("double")), 4))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"doc_id", $"rn".cast("long").as("rn"), $"term", $"score")
      .orderBy($"doc_id", $"rn")
  }

  /** Marker-token language ID (n-gram-profile heuristic shape): score
    * each language by marker overlap, argmax with deterministic
    * preference order; reported as a confusion matrix against the
    * labeled lang. (The fixture vocabulary is shared across langs, so
    * accuracy is incidental — the operator shape is what matters.) */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    docsWithToks(spark, sfDir)
      .withColumn("dtoks", array_distinct($"toks"))
      .withColumn("s_en", size(expr("array_intersect(dtoks, array('the', 'a'))")))
      .withColumn("s_es", size(expr("array_intersect(dtoks, array('data', 'table'))")))
      .withColumn("s_de", size(expr("array_intersect(dtoks, array('key', 'value'))")))
      .withColumn("s_fr", size(expr("array_intersect(dtoks, array('join', 'merge'))")))
      .withColumn("s_zh", size(expr("array_intersect(dtoks, array('spark', 'hash'))")))
      .withColumn("predicted",
        when($"s_en" >= $"s_es" && $"s_en" >= $"s_de" && $"s_en" >= $"s_fr" && $"s_en" >= $"s_zh", "en")
          .when($"s_es" >= $"s_de" && $"s_es" >= $"s_fr" && $"s_es" >= $"s_zh", "es")
          .when($"s_de" >= $"s_fr" && $"s_de" >= $"s_zh", "de")
          .when($"s_fr" >= $"s_zh", "fr")
          .otherwise("zh"))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"predicted")
  }

  /** BPE-ish token counting: regex word segmentation plus fixed-width
    * subword chunks (a deterministic stand-in for a learned BPE vocab —
    * same pipeline shape: word split → subword merge table lookup). */
  def regexTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .withColumn("words", expr("filter(split(lower(text), '[^a-z0-9]+'), w -> w != '')"))
      .select($"doc_id",
        size($"words").cast("long").as("n_words"),
        expr("aggregate(words, 0L, (acc, w) -> acc + cast(ceil(length(w) / 4.0) as long))")
          .as("n_subwords"),
        size(array_distinct($"words")).cast("long").as("n_uniq_words"))
      .orderBy($"doc_id")
  }

  /** Per-language Zipf slope: OLS fit of ln(frequency) on ln(rank) over
    * each language's top-100 token ranks — the corpus-health statistic
    * (natural language sits near −1; generated/templated junk drifts
    * flat). An aggregate linear regression done the deterministic way:
    * each log is rounded to a 10⁻⁴-precision integer FIRST, then the
    * OLS slope is the exact integer rational
    * `(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`, half-up-rounded to 4 dp via
    * [[graft.functions.Det.r4]] — bit-identical in both engines because
    * only one engine-matching double op (the ln) happens per term, at
    * micro precision, before the arithmetic goes exact.
    *
    * Scale design: one hash-agg for term frequencies, one per-lang
    * top-100 rank (bounded state per group), one final tiny agg. The
    * rank-100 cap is what bounds the integer sums at ANY corpus scale:
    * x ≤ ln(100)·10⁴ fixed, y ≤ ln(Σtokens)·10⁴ ≈ 3·10⁵ even at 10¹²
    * tokens, so `n·Σxy·20000` stays far under 2⁶³ (fitting the head of
    * the distribution is also the standard Zipf methodology). */
  def zipfSlope(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tf = docsWithToks(spark, sfDir)
      .select($"lang", explode($"toks").as("tok"))
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
    val ranked = tf
      .withColumn("rank", row_number().over(
        Window.partitionBy($"lang").orderBy(desc("c"), $"tok")))
      .filter($"rank" <= 100)
    val xy = ranked.select($"lang",
      round(log($"rank") * 1e4).cast("long").as("x"),
      round(log($"c") * 1e4).cast("long").as("y"))
    xy.groupBy($"lang")
      .agg(count(lit(1)).as("n_ranks"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .select($"lang", $"n_ranks",
        r4($"n_ranks" * $"sxy" - $"sx" * $"sy",
          $"n_ranks" * $"sxx" - $"sx" * $"sx").as("zipf_slope"))
      .orderBy($"lang")
  }

  /** d36: byte-pair-encoding merge learning (tokenizer training) at the
    * token level — 3 greedy merge rounds: count adjacent unit pairs,
    * take the globally most frequent (count desc, pair asc), rewrite
    * the corpus merging non-overlapping occurrences left-to-right,
    * repeat on the rewritten corpus. Output: one row per round with the
    * learned merge, its pair count at selection time, and how many
    * merges actually applied (overlapping occurrences of an "x x" pair
    * in an "x x x" run merge greedily — only every other position).
    *
    * Left-to-right greedy is resolved DECLARATIVELY: match positions
    * form gaps-and-islands runs per document (pos − row_number), and
    * within a run exactly the odd offsets merge — the same window logic
    * runs in both engines, so overlap resolution cannot drift.
    *
    * Scale design: the corpus rides ONE positional (doc, pos, unit)
    * table hash-partitioned by doc_id; every window in every round
    * reuses that partitioning (no further corpus exchanges), pair
    * counting is a map-side-combined hash-agg, and the argmax is a
    * 1-row bounded scalar (the k-means-centroid pattern). Each round's
    * rewrite is localCheckpointed so round N+1's lineage starts flat —
    * without it the triple fan-out per round (counts, match scan,
    * rewrite all read the same table) recomputes exponentially.
    *
    * Job economy (the r7 verdict's ask): ONE stats job per round
    * yields BOTH the argmax (min(struct(−cnt, tok, nxt)) over the pair
    * groups — same (cnt desc, pair asc) tiebreak as an ORDER BY) and
    * Σcnt, and the applied-merge count telescopes through Σcnt deltas
    * (each applied merge removes exactly one row, and the per-doc
    * null-nxt row count is constant, so T_{i−1} − T_i =
    * np_{i−1} − np_i) — the separate per-round count job is gone, and
    * the LAST round's rewrite skips its checkpoint store (nothing
    * reads it but the final pair recount). 11 jobs → 7 at the same
    * answer; the global agg rides the pair GROUPS (≪ rows), adding no
    * width to the map-side combine. */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    bpeRunCached(spark, sfDir)._1

  /** One BPE training run per (session, sfDir) — the summary AND the
    * final rewritten corpus, shared by d36 (merge table) and d48
    * (fertility over the final corpus). The final corpus comes back
    * UN-checkpointed: a d36-only session keeps the skip optimization
    * (nothing materializes a table only the final recount reads);
    * d48's first access checkpoints it through
    * [[graft.FixtureCache.checkpointed]]. */
  private def bpeRunCached(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) =
    // bound: ≤ 3 summary rows plus one checkpointed (doc_id, pos, tok, nxt) row per token
    FixtureCache.perSession(spark, sfDir, "bpe_run") {
      bpeRun(spark, docsWithToks(spark, sfDir))
    }

  /** [[bpeMerges]] body over any (doc_id, toks) frame — split out so the
    * greedy-overlap parity logic ("x x x x" merges twice, not thrice)
    * is testable on constructed corpora the fixture doesn't contain. */
  private[graft] def bpeMergesFrom(spark: SparkSession,
      docs: DataFrame): DataFrame =
    bpeRun(spark, docs)._1

  /** The training loop; returns (per-round summary, final positional
    * corpus (doc_id, pos, tok, nxt) — NOT checkpointed: the summary
    * path never re-reads it, and [[tokenizerFertility]] checkpoints on
    * first use). */
  private def bpeRun(spark: SparkSession,
      docs: DataFrame): (DataFrame, DataFrame) = {
    import spark.implicits._
    // AQE stays ON (re-measured per the r7 verdict): with the old
    // 11-job round structure, per-stage re-planning cost ~25% of wall
    // time and OFF won; with the folded 7-job structure the balance
    // flips — AQE's post-shuffle coalescing trims the tiny window
    // stages and ON is ~10% faster at sf0.1 (interleaved 5-rep
    // medians: on 4.37/3.90 s vs off 5.07/4.42 s). ON is also the
    // 100 TB default (skew handling); the session value is left
    // untouched.
    {
      val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
      // the checkpointed per-round artifact is (doc, pos, tok, nxt) —
      // the lead window runs ONCE per round (inside the rewrite job);
      // the stats pass is then a pure hash-agg over the checkpoint
      // with no sort at all
      var withNext = docs
        .select($"doc_id", posexplode($"toks").as(Seq("p0", "tok")))
        .select($"doc_id", ($"p0" + 1L).as("pos"), $"tok")
        .withColumn("nxt", lead($"tok", 1).over(wDoc))
        .localCheckpoint()
      // ONE job: Σ pair counts (for the telescoping applied-merge
      // deltas) + the argmax pair with the (cnt desc, tok asc, nxt asc)
      // tiebreak via min(struct(−cnt, tok, nxt)); a degenerate corpus
      // with no pairs left returns (0, None) — the caller stops early,
      // and the oracle's per-round CTEs go empty at the same point
      def stats(df: DataFrame): (Long, Option[(String, String, Long)]) = {
        val r = df.filter($"nxt".isNotNull)
          .groupBy($"tok", $"nxt").agg(count(lit(1)).as("cnt"))
          .agg(sum($"cnt").as("np"),
            min(struct((-$"cnt").as("nc"), $"tok".as("a"), $"nxt".as("b")))
              .as("m"))
          .collect().head
        if (r.isNullAt(0)) (0L, None)
        else {
          val m = r.getStruct(1)
          (r.getLong(0), Some((m.getString(1), m.getString(2),
            -m.getLong(0))))
        }
      }
      val nRounds = 3
      val learned = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, Long)]
      val nps = scala.collection.mutable.ArrayBuffer.empty[Long]
      var done = false
      for (it <- 1 to nRounds if !done) {
        val (np, bestOpt) = stats(withNext)
        nps += np
        bestOpt match {
          case None => done = true
          case Some((a, b, cnt)) =>
            learned += ((it.toLong, s"$a $b", cnt))
            val keep = withNext
              .filter($"tok" === a && $"nxt" === b)
              .withColumn("grp", $"pos" - row_number().over(wDoc))
              .withColumn("k", row_number().over(
                Window.partitionBy($"doc_id", $"grp").orderBy($"pos")))
              .filter($"k" % 2 === 1)
              .select($"doc_id", $"pos")
            val marks = keep.select($"doc_id", $"pos", lit(1).as("mk"))
              .unionAll(keep.select($"doc_id", ($"pos" + 1L).as("pos"),
                lit(2).as("mk")))
            val rewritten = withNext.join(marks, Seq("doc_id", "pos"), "left")
              .filter($"mk".isNull || $"mk" === 1)
              .select($"doc_id", $"pos".as("oldpos"),
                when($"mk" === 1, concat_ws(" ", $"tok", $"nxt"))
                  .otherwise($"tok").as("tok"))
              .select($"doc_id",
                row_number().over(Window.partitionBy($"doc_id")
                  .orderBy($"oldpos")).cast("long").as("pos"),
                $"tok")
              .withColumn("nxt", lead($"tok", 1).over(wDoc))
            // the last round's rewrite feeds ONLY the final pair
            // recount on this path — computing it inside that count
            // job beats materializing a checkpoint nothing else reads
            // (d48 checkpoints its own read as "bpe_final")
            withNext =
              if (it < nRounds) rewritten.localCheckpoint() else rewritten
        }
      }
      // close the telescope: np after the final executed round (the
      // early-stop path already measured it — its last stats call saw
      // the final table)
      if (!done) nps += withNext.filter($"nxt".isNotNull).count()
      val rows = learned.zipWithIndex.map { case ((it, merge, cnt), i) =>
        (it, merge, cnt, nps(i) - nps(i + 1))
      }.toSeq
      (rows.toDF("it", "merge", "n_pairs", "n_applied").orderBy($"it"),
        withNext)
    }
  }

  /** d48: tokenizer fertility/compression evaluation — the step that
    * closes d36's loop (train → APPLY → evaluate): the learned merges'
    * final rewritten corpus, aggregated per language into the metric a
    * tokenizer team actually reads — units per original word
    * (compression; the inverse of fertility) and how many units are
    * merged pairs. A vocabulary trained on a mixed corpus compresses
    * its dominant language best; this table is where that bias becomes
    * visible.
    *
    * Scale design: the final corpus comes from the SHARED
    * [[bpeRunCached]] run (d36 and d48 pay the 3 training rounds once
    * per session; this query checkpoints the corpus on first access);
    * on top of it: one doc_id hash-agg (rides the corpus
    * partitioning), a join to the per-doc lang/word-count projection on
    * doc_id, and a ≤5-row language rollup. Counts are exact longs,
    * compression the r4 exact rational. */
  def tokenizerFertility(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the shared run's final corpus, checkpointed on first d48 access
    // (recomputes at most the final rewrite round from the round-2
    // checkpoint, once) — d36-only sessions never pay this
    // bound: one (doc_id, pos, tok, nxt) row per final token unit
    val corpus = FixtureCache.checkpointed(spark, sfDir, "bpe_final") {
      bpeRunCached(spark, sfDir)._2
    }
    val perDoc = corpus.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_units"),
        sum(when($"tok".contains(" "), 1L).otherwise(0L)).as("n_merged"))
    val langs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("n_words"))
    perDoc.join(langs, "doc_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words").as("n_words"),
        sum($"n_units").as("n_units"),
        sum($"n_merged").as("n_merged"))
      .select($"lang", $"n_docs", $"n_words", $"n_units", $"n_merged",
        r4($"n_units", $"n_words").as("compression"))
      .orderBy($"lang")
  }

  /** One row per (doc, adjacent-token bigram) — shared by the d16
    * self-scored LM and the d53 reference-LM filter so the bigram
    * definition cannot drift between them. */
  private def docBigrams(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    docsWithToks(spark, sfDir)
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(toks)-2),
          g -> struct(toks[g] AS w1, toks[g+1] AS w2))""")).as("b"))
      .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
  }

  /** Corpus-bigram language-model quality score — the perplexity-filter
    * shape of a training-data pipeline, with the LM trained on the
    * corpus itself: P(w2|w1) = c(w1,w2)/c(w1·) over all bigram
    * occurrences, and each document scores the average negative
    * log-likelihood of its bigrams (lower = more typical text).
    *
    * Scale design: bigram and unigram count tables are plain hash-aggs;
    * the score join keys on the bigram — the same shuffle the count
    * needed, so Catalyst reuses the exchange. Determinism across
    * engines: each bigram's ln(c1/c2) is rounded ONCE to integer
    * micro-nats (one double op, identical in both engines to well below
    * the rounding grain), then summed as exact int64 — the per-doc sum
    * never depends on float summation order — and the final per-doc
    * average rounds in exact integer arithmetic like [[qualityScore]]. */
  def bigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // r15: three consumers (c2, c1, probe) — left lazy, the tokenize +
    // bigram explode ran three times per execution (the q19/d09/d50
    // shared-subtree lesson, OPTIMIZATION_r15.md). The aggregate+join
    // shape itself stays: the per-head counts keep map-side partial
    // aggregation, which a head-keyed window would trade for skew.
    val big = docBigrams(spark, sfDir).localCheckpoint()
    val c2 = big.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val c1 = big.groupBy($"w1").agg(count(lit(1)).as("c1"))
    big.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("micro_nll",
        round(log($"c1" / $"c2".cast("double")) * 1e6, 0).cast("long"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"micro_nll").as("sum_micro"))
      // avg_nll to 4 dp: value = num/den with num = sum_micro,
      // den = n·10⁶; round half-up in exact integer space:
      // round(10⁴·num/den) = (2·10⁴·num + den) div (2·den)
      .select($"doc_id", $"n_bigrams",
        (call_function("div",
          $"sum_micro" * 20000L + $"n_bigrams" * 1000000L,
          $"n_bigrams" * 2000000L) / 10000.0).as("avg_nll"))
      .orderBy($"doc_id")
  }

  /** d53 keep threshold (avg reference-LM nll in nats/bigram): docs
    * scoring above it are flagged for drop. The knob a deployment
    * tunes against held-out data; chosen at the fixture's score median
    * so both flag values occur at every fixture SF. (The synthetic
    * fixture draws every "language" from one shared vocabulary, so
    * scores cluster tightly — on a real corpus the en-reference LM
    * separates languages by whole nats and the threshold is lax.) */
  private[graft] val RefLmKeepNll = 3.4

  /** d53: reference-LM quality filter — the CCNet-style gate: score
    * EVERY document's bigram cross-entropy under an LM trained only on
    * a TRUSTED REFERENCE slice (the 'en' documents — the
    * target-language-wiki stand-in), and keep docs under
    * [[RefLmKeepNll]] nats/bigram. Unlike d16 (each doc scored by the
    * corpus's own statistics — no out-of-vocabulary possible), the
    * reference LM must handle bigrams it never saw: add-one (Laplace)
    * smoothing, p(w2|w1) = (c2+1)/(c1+V) with V = reference bigram-head
    * vocabulary size, so an unseen continuation costs ln(c1+V) and a
    * fully-OOV head costs ln(V) — the smoothing that makes the score a
    * total function of the corpus.
    *
    * Determinism: like d16, per-bigram nll is frozen to integer
    * micro-nats (round(ln(rational)·10⁶) — both engines' libm agree
    * through the 6th decimal on these magnitudes, the d16 precedent),
    * summed exactly, averaged via the integer half-up division; the
    * keep flag compares the exact 4-decimal average to the literal.
    *
    * Scale design: reference counts (c2, c1, V) are REFERENCE-sized —
    * a trusted slice is orders smaller than the corpus, so on a
    * cluster they broadcast (here AQE does it) and scoring is map-side
    * over one corpus-bigram exchange; the per-doc rollup rides the
    * same doc_id key. The corpus is never self-joined; adding a
    * document to the corpus (not the reference) changes only its own
    * score — the incremental property a rolling curation pipeline
    * needs. */
  def referenceLmFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val big = docBigrams(spark, sfDir)
    val refBig = big.join(
      Tables.documents(spark, sfDir).filter($"lang" === "en")
        .select($"doc_id"), Seq("doc_id"), "left_semi")
    val c2 = refBig.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val c1 = refBig.groupBy($"w1").agg(count(lit(1)).as("c1"))
    val v = refBig.agg(countDistinct($"w1").as("v"))
    big.join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("micro_nll",
        round(log((coalesce($"c1", lit(0L)) + $"v") /
          (coalesce($"c2", lit(0L)) + 1L).cast("double")) * 1e6, 0)
          .cast("long"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"micro_nll").as("sum_micro"))
      .select($"doc_id", $"n_bigrams",
        (call_function("div",
          $"sum_micro" * 20000L + $"n_bigrams" * 1000000L,
          $"n_bigrams" * 2000000L) / 10000.0).as("avg_nll"))
      .withColumn("kept", $"avg_nll" <= RefLmKeepNll)
      .orderBy($"doc_id")
  }

  /** Gopher-style repetition signals: per document, the duplicate
    * fraction of 3-gram occurrences and the highest single 2-gram
    * repeat count — the standard repetitive-text quality filters.
    * All counting is within-document (explode + per-doc hash-agg on a
    * (doc, gram) key — the gram space is sharded by doc, so there is no
    * hot-key skew at any corpus size), and the ratios round in exact
    * integer arithmetic like [[qualityScore]]. */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = docsWithToks(spark, sfDir).filter(size($"toks") >= 3)
    val g3 = toks.select($"doc_id", explode(expr(Gram3Sql)).as("g"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_3grams"),
        countDistinct($"g").as("n_distinct_3grams"))
    val g2top = toks.select($"doc_id", explode(expr(
        """transform(sequence(0, size(toks)-2),
          g -> concat_ws(' ', toks[g], toks[g+1]))""")).as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_2gram_count"))
    g3.join(g2top, "doc_id")
      .select($"doc_id", $"n_3grams", $"n_distinct_3grams",
        r4($"n_3grams" - $"n_distinct_3grams", $"n_3grams")
          .as("dup_3gram_frac"),
        $"top_2gram_count")
      .orderBy($"doc_id")
  }

  /** d26: per-document token-distribution Shannon entropy (nats) — the
    * "repetitive junk" quality signal a pretraining filter thresholds
    * low (a doc that is one token repeated has entropy 0; rich text
    * approaches ln(n_types)). H = Σ (c_i/n)·ln(n/c_i) over the doc's
    * token counts.
    *
    * Determinism across engines: like [[bigramLm]], each type's
    * ln(n/c_i) is rounded ONCE to integer micro-nats (one double op,
    * identical in both engines to well below the grain), weighted by
    * the exact integer count c_i, summed as exact int64, and the final
    * per-doc average rounds in exact integer arithmetic — no
    * order-dependent float summation anywhere.
    *
    * Scale design: two chained hash-aggs — (doc, token) counts, then
    * per-doc roll-up — both map-side combined; the second groupBy and
    * the count join reuse the doc_id-prefixed exchange. No windows, no
    * joins wider than doc_id. */
  def tokenEntropy(spark: SparkSession, sfDir: String): DataFrame =
    tokenEntropyCore(docsWithToks(spark, sfDir))

  private[graft] def tokenEntropyCore(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cnt = docs
      .select($"doc_id", explode($"toks").as("tok"))
      .groupBy($"doc_id", $"tok")
      .agg(count(lit(1)).as("c"))
    val n = cnt.groupBy($"doc_id")
      .agg(sum($"c").as("n"), count(lit(1)).as("n_types"))
    cnt.join(n, "doc_id")
      .withColumn("wmicro",
        $"c" * round(log($"n" / $"c".cast("double")) * 1e6).cast("long"))
      .groupBy($"doc_id")
      .agg(first($"n").as("n_tokens"), first($"n_types").as("n_types"),
        sum($"wmicro").as("sm"))
      .select($"doc_id", $"n_tokens", $"n_types",
        (call_function("div",
          $"sm" * 20000L + $"n_tokens" * 1000000L,
          $"n_tokens" * 2000000L) / 10000.0).as("entropy"))
      .orderBy($"doc_id")
  }

  /** How many of the global top terms to track per source in d43 —
    * the bounded vocabulary that makes distribution drift a broadcast
    * problem instead of a full-vocabulary shuffle. */
  private[graft] val DriftTerms = 100

  /** d43: token-distribution drift per source — the mixture-monitoring
    * op a training-data pipeline runs when a new crawl snapshot lands:
    * "which source's language has moved away from the corpus mix, and
    * on which words?" Per source, total-variation-style distance
    * between the source's term distribution and the corpus-wide one,
    * over the global top-[[DriftTerms]] terms (the bounded head; the
    * tail is noise for drift purposes), plus the single most drifted
    * term.
    *
    * Determinism: rates are exact integer parts-per-billion via
    * [[Det.fdiv]] (tf·10⁹ ≤ 10⁹·corpus-tokens stays well inside
    * BIGINT), the distance is a plain BIGINT sum of absolute rate
    * differences, and the arg-max term breaks ties lexicographically.
    *
    * Scale design: one exchange builds (source, term) counts; term
    * totals re-aggregate those partials map-side; the top-100 term set
    * and the per-source token totals are tiny broadcasts, so the
    * source×term drift grid (n_sources × 100 rows) never shuffles the
    * corpus again. At 100 TB the only big job is the first token
    * count — exactly the d02 shape. */
  def sourceDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tok = docsWithToks(spark, sfDir)
      .select($"source", explode($"toks").as("term"))
    // st is referenced four times below (per-source totals, term totals,
    // the grid probe, the corpus total); localCheckpoint materializes the
    // vocab-sized aggregate once so the corpus explode+count runs exactly
    // one scan — AQE exchange reuse only deduplicated 2 of the 4
    val st = tok.groupBy($"source", $"term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val totSrc = st.groupBy($"source").agg(sum($"tf").as("tot_src"))
    val termTot = st.groupBy($"term").agg(sum($"tf").as("tf_all"))
    val top = termTot.orderBy($"tf_all".desc, $"term").limit(DriftTerms)
    val grid = broadcast(totSrc).crossJoin(broadcast(top))
      .join(st, Seq("source", "term"), "left")
      .na.fill(0L, Seq("tf"))
      .crossJoin(broadcast(termTot.agg(sum($"tf_all").as("tot_all"))))
      .withColumn("diff_ppb", abs(
        Det.fdiv($"tf" * 1000000000L, $"tot_src") -
          Det.fdiv($"tf_all" * 1000000000L, $"tot_all")))
    grid
      .withColumn("rn", row_number().over(Window.partitionBy($"source")
        .orderBy($"diff_ppb".desc, $"term")))
      .withColumn("drift_ppb",
        sum($"diff_ppb").over(Window.partitionBy($"source")))
      .filter($"rn" === 1)
      .select($"source", $"tot_src".as("total_tokens"), $"drift_ppb",
        $"term".as("top_term"), $"diff_ppb".as("top_term_ppb"))
      .orderBy($"source")
  }

  /** d44: bigram-coverage quality score — the n-gram-LM-lite fluency
    * filter (the CCNet/Gopher-style "does this document look like the
    * corpus head?" signal without transcendental math): the corpus's
    * top-200 word bigrams form the head model, and each document is
    * scored by the fraction of ITS bigrams that land in that head.
    * Low coverage flags boilerplate, shuffled-token spam, and
    * out-of-domain text; unlike a real LM perplexity it is exactly
    * reproducible across engines (pure counting + one rational
    * rounding — no log/exp whose last-ulp behavior differs).
    *
    * Scale design: pass 1 is a two-level hash-agg (map-side combine
    * collapses each partition's bigram counts before ONE shuffle) +
    * a 200-row TakeOrdered to the driver; pass 2 broadcast-joins that
    * 200-row head to the corpus bigrams — the corpus never shuffles
    * on the bigram key, and per-doc aggregation shuffles on doc_id
    * only. At 100 TB the head stays 200 rows: both passes are scans. */
  def bigramCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bi = docsWithToks(spark, sfDir)
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(toks)-1), i -> concat(toks[i-1], ' ', toks[i]))"))
        .as("bigram"))
    val head = bi.groupBy($"bigram").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), $"bigram").limit(200)
      .select($"bigram", lit(1).as("hit"))
    bi.join(broadcast(head), Seq("bigram"), "left")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(coalesce($"hit", lit(0))).cast("long").as("covered"))
      .withColumn("coverage", Det.r4($"covered", $"n_bigrams"))
      .orderBy($"doc_id")
  }
}
