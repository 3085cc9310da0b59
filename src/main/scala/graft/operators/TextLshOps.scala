package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{FixtureCache, Tables}
import graft.functions.Det
import graft.functions.Det.r4
import org.apache.spark.sql.graft.VectorExpressions.sortedIsect

/** TextOps seam 2/5: the NEAR-DUP family — MinHash signatures + LSH
  * banding (d06), SimHash (d07/d19), exact n-gram Jaccard PPJoin
  * (d08), canonical-first near-dup (d22), shared substrings (d25),
  * chunk-level near-dup + rollup (d56), containment (d46), incremental
  * ingest (d52), banding curve (d54), cross-source (d21/d50), method
  * agreement (d51), and the dup-graph consumers (d12 clusters, d29
  * PageRank, d35 triangles, d38 LPA, d30 novelty). */
trait TextLshOps extends TextCoreOps {
  this: TextStatsOps with TextCurationOps =>
  // MinHash permutations as universal hashes h_i(x) = (a_i·x + b_i) mod p
  // over a 31-bit base hash x of the shingle (first 8 hex chars of its
  // md5, mod p). p = 2^31−1 (Mersenne prime); a_i < p and x < p keep
  // a_i·x + b_i < 2^62 — exact int64 arithmetic in BOTH engines (DuckDB
  // BIGINT errors on overflow, so the bound is load-bearing). The
  // constants derive from an LCG formula; they are inlined as literals
  // on the Spark side and interpolated into the oracle SQL from the
  // SAME Scala values, so the two engines agree by construction.
  private[graft] val MhP = 2147483647L
  private[graft] val MhA: IndexedSeq[Long] =
    (0 until 16).map(i => (1103515245L * (i + 1) + 12345L) % MhP)
  private[graft] val MhB: IndexedSeq[Long] =
    (0 until 16).map(i => (2654435761L * i + 1013904223L) % MhP)
  /** DuckDB inline seed relation `seeds(s, a, b)`, 16 rows. */
  private[operators] def mhSeedsSql: String =
    (0 until 16).map(i => s"(${i}, ${MhA(i)}, ${MhB(i)})")
      .mkString("(VALUES ", ", ", ") seeds(s, a, b)")

  /** Per-document MinHash signature: array of the 16 permutation minima
    * over the document's distinct 3-token shingles.
    *
    * Scale notes: ONE codegen'd md5 per (doc, shingle) row produces the
    * base hash; the 16 permutations are pure int64 arithmetic fused into
    * the map-side-combined hash-agg (16 `min` columns). An earlier
    * version hashed every distinct shingle 16× inside a `transform`
    * lambda and shared the result via join — but higher-order-function
    * lambdas are CodegenFallback (interpreted per element), so 16
    * interpreted md5s per shingle cost far more than one codegen'd md5,
    * AND the distinct+join added two shuffles. This shape is one
    * explode → one shuffle (the groupBy), nothing else. */
  private[graft] def minhashSigs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // documents is one parquet file → one input partition; spread the
    // shingle/hash work across cores before the heavy transforms (on a
    // cluster the source would already be many splits)
    val par = spark.sparkContext.defaultParallelism
    docsWithToks(spark, sfDir)
      .repartition(par)
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        """array_distinct(transform(sequence(0, size(toks)-3),
          g -> concat_ws(' ', toks[g], toks[g+1], toks[g+2])))""")).as("s"))
      .withColumn("x",
        expr("conv(substr(md5(s), 1, 8), 16, 10)").cast("long") % MhP)
      .groupBy($"doc_id")
      .agg(array((0 until 16).map(i =>
        min((lit(MhA(i)) * $"x" + lit(MhB(i))) % MhP)): _*).as("sig"))
  }

  /** [[minhashSigs]], checkpointed once per session: d06, d52 and d54
    * read it. */
  private def sigsCached(spark: SparkSession, sfDir: String): DataFrame =
    // bound: at most one (doc_id, 16-long signature) row per document
    FixtureCache.checkpointed(spark, sfDir, "sigs")(minhashSigs(spark, sfDir))

  private[graft] def lshPairs(spark: SparkSession, sfDir: String): DataFrame =
    // bound: one (d1, d2, est_jaccard) row per verified near-dup pair
    FixtureCache.checkpointed(spark, sfDir, "lsh_pairs") {
      minhashLshUncached(spark, sfDir)
    }

  /** MinHash signatures (16 md5-permutations over distinct 3-token
    * shingles) + LSH banding (4 bands × 4 rows): candidate pairs come
    * ONLY from full band-hash collisions, estimated Jaccard = matching
    * signature fraction over candidates. Shingling (not raw tokens) is
    * what makes MinHash discriminative when the vocabulary is small
    * relative to the corpus.
    *
    * Scale design: the self-join key is (band, band_hash) — all 4 rows
    * of a band must collide to create a candidate, so bucket sizes stay
    * near-constant and the join is linear in candidates, never the
    * near-quadratic "any 1/16 seeds collide" blowup. The verify step
    * compares the two 16-entry signature arrays with zip_with inside
    * codegen — no flat (doc, seed, h) table is ever shuffled. */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    // total order applied OUTSIDE the checkpoint — see [[graft.operators
    // .VectorOps.lshNearDup]]: checkpointing a sorted plan adds the range
    // sampler's extra pass over the band join, and d12 doesn't need it
    lshPairs(spark, sfDir).orderBy("d1", "d2")

  /** LSH band table (doc_id, band, bh): one row per (doc, band), band
    * hash = the 4 signature entries of that band joined as a string.
    * Shared by d06's candidate self-join and the s24 streaming
    * incremental near-dup ([[graft.streaming.StreamOps]]), so the band
    * definition cannot drift between the batch and streaming faces. */
  private[graft] def lshBands(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sigs = sigsCached(spark, sfDir)
    sigs.select($"doc_id", explode(expr(
      """transform(sequence(0, 3),
        b -> struct(b AS band,
          array_join(transform(slice(sig, b*4 + 1, 4),
            v -> cast(v as string)), '|') AS bh))""")).as("x"))
      .select($"doc_id", $"x.band".as("band"), $"x.bh".as("bh"))
  }

  private def minhashLshUncached(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // One row per doc; materialized once and read by the band join (both
    // sides) and the two verify joins — at 1B docs this is ~0.5 TB spread
    // across executors, well within a cluster's storage fraction.
    val sigs = sigsCached(spark, sfDir)
    val bands = lshBands(spark, sfDir)
    val cand = bands.as("a")
      .join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
    cand
      .join(sigs.select($"doc_id".as("d1"), $"sig".as("sig1")), "d1")
      .join(sigs.select($"doc_id".as("d2"), $"sig".as("sig2")), "d2")
      .select($"d1", $"d2",
        round(expr("size(filter(zip_with(sig1, sig2, (x, y) -> x = y), m -> m))") / lit(16.0), 4)
          .as("est_jaccard"))
      .filter($"est_jaccard" >= 0.5)
  }

  /** d35: triangle count + local clustering coefficient per node over
    * the d06 MinHash near-dup graph — the graph-STRUCTURE signal on top
    * of the pair list: a high-coefficient neighborhood is a coherent
    * duplicate community (exact/near copies of one underlying text,
    * safe to collapse to a canonical doc), while a high-degree node
    * with near-zero coefficient is a template/boilerplate attractor
    * chaining unrelated documents — review it, don't collapse it.
    *
    * Scale design: the classic distributed triangle enumeration —
    * edges stay in canonical d1<d2 orientation, so each triangle
    * a<b<c is found exactly once by joining (a,b)⋈(b,c) on the shared
    * middle vertex and closing with a hash probe of (a,c). Both steps
    * are hash equi-joins on vertex keys (never an adjacency
    * cross-product); degrees and per-node counts are map-side-partial
    * hash-aggs. On a skewed graph the canonical orientation bounds the
    * join fan-out (a degree-d hub only pairs its HIGHER-id neighbors)
    * — same reason the order-by-degree variant is the production
    * standard. The coefficient 2T/(d·(d−1)) is [[graft.functions.Det
    * .r4]] exact; the pair table is the same session-cached checkpoint
    * d06/d12/d21 read. */
  def dupTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val p = lshPairs(spark, sfDir).select($"d1", $"d2")
    val deg = p.select($"d1".as("doc_id"))
      .unionAll(p.select($"d2".as("doc_id")))
      .groupBy($"doc_id").agg(count(lit(1)).as("degree"))
    val closing = p.select($"d1".as("a"), $"d2".as("c"))
    val tri = p.as("ab")
      .join(p.as("bc"), col("ab.d2") === col("bc.d1"))
      .select(col("ab.d1").as("a"), col("ab.d2").as("b"), col("bc.d2").as("c"))
      .join(closing, Seq("a", "c"))
    val cnt = tri.select(explode(array($"a", $"b", $"c")).as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_triangles"))
    deg.join(cnt, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .select($"doc_id", $"degree", $"n_triangles",
        when($"degree" < 2, lit(0.0))
          .otherwise(r4($"n_triangles" * 2L, $"degree" * ($"degree" - 1L)))
          .as("clustering"))
      .orderBy($"doc_id")
  }

  /** d38: label-propagation communities (LPA) over the d06 near-dup
    * graph — the community-detection complement to connected components
    * (d12 finds everything reachable; LPA finds DENSELY-linked groups,
    * so a boilerplate bridge between two real dup families doesn't glue
    * them into one cluster): 3 synchronous rounds, each node adopting
    * its neighbors' most frequent label (count desc, min label
    * tiebreak — all-integer, bit-identical in both engines).
    *
    * Scale design: per round ONE hash join of the edge list with the
    * label table on the source key + two hash-aggs (neighbor-label
    * counts, per-node argmax as a (count, −label) struct max) — never
    * an adjacency matrix, never a window over the full edge set;
    * per-round localCheckpoint keeps lineage flat like d29. Reads the
    * same cached pair checkpoint as d12/d21/d35. */
  def labelPropagation(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val p = lshPairs(spark, sfDir).select($"d1", $"d2")
    val e = p.unionAll(p.select($"d2".as("d1"), $"d1".as("d2")))
      .localCheckpoint()
    var lab = e.select($"d1".as("node")).distinct()
      .withColumn("label", $"node")
      .localCheckpoint()
    for (_ <- 1 to 3) {
      val best = e.join(lab, $"d1" === $"node")
        .groupBy($"d2", $"label").agg(count(lit(1)).as("c"))
        .groupBy($"d2")
        .agg(max(struct($"c", (-$"label").as("nl"))).as("m"))
        .select($"d2".as("node"), (-$"m.nl").as("newlab"))
      lab = lab.join(best, Seq("node"), "left")
        .select($"node", coalesce($"newlab", $"label").as("label"))
        .localCheckpoint()
    }
    lab.select($"node".as("doc_id"), $"label".as("community"))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy($"community")))
      .orderBy($"doc_id")
  }

  /** 16-bit SimHash over term-frequency-weighted md5 bits; identical
    * signatures bucket together (n_bucket = docs sharing the hash). */
  /** Per-doc SimHash bit string of the given width (≤ 32: one md5 hex
    * digit drives each bit). Each token occurrence is md5'd ONCE in
    * codegen; the per-bit ±1 sums are `width` fused columns of one
    * map-side-combined hash-agg — the same one-hash-then-integer-math
    * shape as [[minhashSigs]] (a per-bit `aggregate` lambda would
    * re-run an interpreted md5 per token PER BIT: width× the work). */
  private def simhashSigs(spark: SparkSession, sfDir: String,
      width: Int): DataFrame = {
    import spark.implicits._
    // bit i set ⇔ hex digit i ≥ 8; lexicographic `>= '8'` is exact for
    // the md5 alphabet 0-9a-f (one comparison instead of a substring
    // search per bit — this runs width× per token occurrence)
    val bitSums = (1 to width).map(i =>
      sum(when(expr(s"substr(m, $i, 1) >= '8'"), 1)
        .otherwise(-1)).as(s"s_$i"))
    docsWithToks(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select($"doc_id", explode($"toks").as("t"))
      .select($"doc_id", md5($"t").as("m"))
      .groupBy($"doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id",
        concat((1 to width).map(i =>
          when(col(s"s_$i") > 0, "1").otherwise("0")): _*).as("simhash"))
  }

  def simhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    simhashSigs(spark, sfDir, 16)
      .withColumn("n_bucket",
        count(lit(1)).over(Window.partitionBy($"simhash")))
      .orderBy($"doc_id")
  }

  /** SimHash Hamming-ball near-dup (the Google web-dedup shape): find
    * all pairs whose 32-bit SimHash signatures differ in ≤ 1 bit.
    * Candidates come from SEGMENT BANDING — split the signature into 2
    * segments of 16 bits; by pigeonhole, a single flipped bit leaves
    * one segment identical, so every qualifying pair collides on some
    * segment — then the exact Hamming distance verifies candidates
    * only. Same LSH skeleton as d06/v08: the self-join keys on
    * (segment index, segment bits), linear in collisions, never all
    * pairs. The signature/segment width IS the selectivity knob (d07's
    * 16-bit signature buckets this small-vocabulary fixture far too
    * densely — 90 partners/doc); production web dedup runs this same
    * plan at 64 bits with 4×16-bit segments for Hamming ≤ 3. */
  def simhashNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // integer signature: bit i (1-based, MSB first) = 2^(32-i); all set
    // math below (segment keys, hamming) is int64 codegen — no strings
    // cross the shuffle, no per-candidate lambda
    // bound: one (doc_id, int64 signature) row per document
    val sh = FixtureCache.checkpointed(spark, sfDir, "simhash_int32") {
      simhashSigs(spark, sfDir, 32)
        .select($"doc_id",
          expr("""aggregate(sequence(1, 32), 0L,
            (acc, i) -> acc * 2L + (case when substr(simhash, i, 1) = '1'
                                    then 1L else 0L end))""").as("sig"))
    }
    simhashPairsFromSigs(sh)
  }

  /** The d19 banded candidate + Hamming verify over any (doc_id, sig)
    * frame — split out so the pigeonhole completeness (every
    * Hamming-≤1 pair collides on some 16-bit segment) is fuzzable
    * against brute force on arbitrary signatures (GraftSpec). */
  private[graft] def simhashPairsFromSigs(sh: DataFrame): DataFrame = {
    import sh.sparkSession.implicits._
    val seg = sh.select($"doc_id",
      posexplode(array(
        call_function("div", $"sig", lit(65536L)),
        $"sig" % 65536L)).as(Seq("s", "seg")))
    val cand = seg.as("a")
      .join(seg.as("b"),
        $"a.s" === $"b.s" && $"a.seg" === $"b.seg" &&
          $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(lit(1))
      .select($"d1", $"d2")
    cand
      .join(sh.select($"doc_id".as("d1"), $"sig".as("s1")), "d1")
      .join(sh.select($"doc_id".as("d2"), $"sig".as("s2")), "d2")
      .withColumn("hamming", bit_count(expr("s1 ^ s2")).cast("long"))
      .filter($"hamming" <= 1)
      .select($"d1", $"d2", $"hamming")
      .orderBy($"d1", $"d2")
  }

  /** Exact n-gram (3-token shingle) Jaccard near-dup pairs ≥ 0.5.
    *
    * Structure (the All-Pairs / PPJoin shape, exact — no recall loss):
    *
    *  1. Shingles are xxhash64'd once per doc; all later set math runs
    *     on slim int64 keys, not 17-char strings. Document frequency is
    *     a hash-agg (map-side combined, sort-free) over the exploded
    *     (doc, hash) table, and the join back on h reuses the same
    *     exchange. The per-doc regroup (`byDoc`) then derives the
    *     sorted set array, set size, and prefix slice array-side in a
    *     single pass — a per-row `sort_array` over ~doc-length structs
    *     replaces a global WindowExec sort by (doc, df, h).
    *  2. PREFIX FILTER: order each doc's shingles by global document
    *     frequency ascending (rarest first, hash as tiebreak). If
    *     Jaccard(a,b) ≥ t then |a∩b| ≥ ⌈t·|a|⌉, so the pair must share
    *     a shingle within each side's first |d| − ⌈t·|d|⌉ + 1 shingles
    *     — the self-join runs on those prefixes only. Rarest-first is
    *     the skew bound: a stop-shingle with huge df sorts last and
    *     drops out of almost every prefix, so it never drives the join.
    *  3. POSITIONAL FILTER in the join condition: a match at prefix
    *     ranks (ra, rb) caps the possible overlap at
    *     min(na−ra, nb−rb)+1, which must reach the Jaccard-≥-t minimum
    *     ⌈t/(1+t)·(na+nb)⌉ — pairs sharing only late-prefix shingles
    *     are dropped before the shuffle.
    *  4. Verify joins the slim (d1, d2) candidates back to `byDoc`
    *     and computes the exact intersection with the codegen'd
    *     two-pointer `graft_sorted_isect` (Spark's `array_intersect`
    *     builds a hash set per row — ~100× slower here). The doc-set
    *     side broadcasts when small; at cluster scale it is a linear
    *     shuffle join on doc_id.
    *
    * "Exact" is modulo the 64-bit shingle hashing: a xxhash64 collision
    * would silently merge two distinct shingles. By the birthday bound,
    * P(any collision) ≈ u²/2^65 for u distinct shingles — ~3% at u=1B
    * corpus-wide, and a collision only perturbs a pair's Jaccard by
    * ~1/|union| (it can't invent a near-dup pair). If the corpus grows
    * past ~10B distinct shingles, widen to two independent xxhash64
    * seeds (128 bits) or verify candidates on raw shingle strings.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    pairsFromByDoc(spark, byDocCached(spark, sfDir))

  /** d22: the scale-correct composition the 10× scaling probe (SURVEY
    * round-5 note) prescribes — collapse EXACT duplicates first, then
    * run all-pairs near-dup among canonical representatives only. An
    * all-pairs output is inherently quadratic in duplicate-group size
    * (c copies ⇒ c² pairs), so a 100 TB corpus with heavy verbatim
    * duplication must canonicalize before the pair stage: the collapse
    * is one sublinear window over md5(text), and the pair stage then
    * runs on the (much smaller) canonical set. Pair list ⊆ d08's,
    * restricted to min-doc_id representatives of each identical-text
    * group.
    *
    * Shares d08's cached per-doc shingle table, filtered to reps with
    * a semi-join: the prefix ordering inside that table uses document
    * frequencies over ALL docs, which is still ONE consistent global
    * shingle order — PPJoin completeness only requires both prefixes
    * to be taken under the same total order, not any particular one —
    * so the rep-subset pair set is exact. */
  def canonicalNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val repIds = Tables.documents(spark, sfDir)
      .withColumn("rep",
        min($"doc_id").over(Window.partitionBy(md5($"text"))))
      .filter($"doc_id" === $"rep")
      .select($"doc_id")
    pairsFromByDoc(spark,
      byDocCached(spark, sfDir).join(repIds, Seq("doc_id"), "left_semi"))
  }

  private val JaccT = 0.5

  /** Per-doc shingle table (n, sorted hash set, rarest-first prefix) —
    * ONE session-cached materialization serving d08's prefix path,
    * both verify sides, and d22's rep-filtered rerun. */
  private def byDocCached(spark: SparkSession, sfDir: String): DataFrame =
    // bound: at most one (doc_id, n, shingle-hash set, prefix) row per document
    FixtureCache.checkpointed(spark, sfDir, "d08_bydoc") {
      byDocFrom(docsWithToks(spark, sfDir)
        .repartition(spark.sparkContext.defaultParallelism))
    }

  /** The byDoc build over any (doc_id, toks) frame — split out so the
    * PPJoin prefix/positional bounds are fuzzable against brute force
    * on constructed corpora (GraftSpec). */
  private[graft] def byDocFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val t = JaccT
    // one (doc, shingle-hash) row per distinct shingle occurrence
    val tok = docs
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        """array_distinct(transform(sequence(0, size(toks)-3),
          g -> xxhash64(concat_ws(' ', toks[g], toks[g+1], toks[g+2]))))""")).as("h"))
    // Document frequency in the SAME pass as the shingle shuffle: one
    // window count over (partition by h) — the rows are already
    // hash-partitioned by h for it, so this replaces the former
    // groupBy(h)+join-back (two exchanges) with one. The per-doc regroup
    // then builds EVERYTHING array-side in one pass: the df-ordered
    // struct list (sort_array over ~doc-length elements — bounded per
    // row, no global WindowExec sort by (doc, df, h)), the sorted hash
    // set for the verify step, and the rarest-first prefix slice. One
    // materialization serves the prefix path and both verify sides.
    val withDf = tok.withColumn("df",
      count(lit(1)).over(Window.partitionBy($"h")))
    withDf
      .groupBy($"doc_id").agg(
        sort_array(collect_list(struct($"df", $"h"))).as("sdh"))
      .select($"doc_id",
        size($"sdh").cast("long").as("n"),
        expr("array_sort(transform(sdh, x -> x.h))").as("hs"),
        expr(s"slice(sdh, 1, size(sdh) - cast(ceil(size(sdh) * $t) as int) + 1)")
          .as("pref"))
  }

  /** [[ngramJaccard]] over any (doc_id, toks) frame (fuzz entry). */
  private[graft] def ngramJaccardFrom(docs: DataFrame): DataFrame =
    pairsFromByDoc(docs.sparkSession, byDocFrom(docs))

  private def pairsFromByDoc(spark: SparkSession, byDoc: DataFrame): DataFrame = {
    import spark.implicits._
    val t = JaccT
    val prefix = byDoc.select($"doc_id", $"n",
        posexplode($"pref").as(Seq("r0", "x")))
      .select($"doc_id", $"n", $"x.h".as("h"), ($"r0" + 1).as("r"))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id" &&
          least($"a.n" - $"a.r", $"b.n" - $"b.r") + 1 >=
            ceil(($"a.n" + $"b.n") * lit(t) / (1 + t)))
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
    // A pair sharing k prefix shingles appears k times — verify all k
    // and dedup AFTER the jaccard filter: the k copies cost k cheap
    // codegen'd intersections, while deduping first costs a full
    // exchange of the candidate multiset (measured slower at every sf).
    // The slim candidate list should broadcast so the wide
    // (doc, hash-array) table is probed in place — but NOT via an
    // unconditional hint: a pathological corpus with huge candidate
    // multiplicity would OOM the driver. AQE's runtime size stats pick
    // the broadcast when cand is small (the normal case, plan-asserted
    // in PlanShapeSpec) and fall back to a shuffle join when it isn't.
    cand
      .join(byDoc.select($"doc_id".as("d1"), $"hs".as("h1"), $"n".as("n1")), "d1")
      .join(byDoc.select($"doc_id".as("d2"), $"hs".as("h2"), $"n".as("n2")), "d2")
      .withColumn("common", sortedIsect($"h1", $"h2").cast("long"))
      .select($"d1", $"d2",
        round($"common" / ($"n1" + $"n2" - $"common").cast("double"), 4)
          .as("jaccard"))
      .filter($"jaccard" >= t)
      .dropDuplicates("d1", "d2")
      .orderBy($"d1", $"d2")
  }

  /** Duplicate clusters: connected components over the MinHash near-dup
    * pair graph (see [[Graph.connectedComponents]] for the
    * min-label-propagation scale design). Cluster id = min doc_id in
    * the component, the representative a dedup pass would keep. */
  def dupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // session-cache the RESULT (one row per clustered doc — bounded by
    // the dup structure, tiny): three consumers (d12, d27's drop list,
    // d40's capstone) would otherwise each re-run the whole
    // connected-components iteration ladder
    // bound: one (doc_id, cluster_id) row per doc in some lsh_pairs pair
    FixtureCache.checkpointed(spark, sfDir, "dup_clusters") {
      Graph.connectedComponents(lshPairs(spark, sfDir).select($"d1", $"d2"))
        .select($"id".as("doc_id"), $"cluster_id")
    }.orderBy($"doc_id")
  }

  /** Cross-source duplication matrix: how many near-dup pairs link
    * each (source, source) combination — the diagnostic that decides
    * which corpus sources to drop or down-weight before training (a
    * source that mostly duplicates another contributes tokens but no
    * diversity). Reuses the session-cached d06 pair table, so the
    * marginal cost is two joins against the 2-column doc→source map
    * and a tiny aggregation; source pairs are canonically ordered
    * (least, greatest) so A→B and B→A collapse. */
  def crossSourceDups(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.documents(spark, sfDir).select($"doc_id", $"source")
    lshPairs(spark, sfDir)
      .join(src.select($"doc_id".as("d1"), $"source".as("s1")), "d1")
      .join(src.select($"doc_id".as("d2"), $"source".as("s2")), "d2")
      .select(least($"s1", $"s2").as("src_a"),
        greatest($"s1", $"s2").as("src_b"))
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"src_a", $"src_b")
  }

  /** d25: exact shared-substring detection (the "Deduplicating Training
    * Data Makes Language Models Better" shape): for every document pair
    * sharing at least one 8-token window, report the LONGEST contiguous
    * shared token run and the total shared-window count. Rolling
    * stride-1 windows hash to int64; windows shared by a pair at
    * positions (pa, pb) belong to one contiguous run iff they sit on
    * the same diagonal (pa−pb) at consecutive pa — the classic
    * gaps-and-islands grouping `pa − row_number()`.
    *
    * Scale design: windows travel as xxhash64 int64s (never the token
    * strings); a document-frequency cap (≤ [[SubDfCap]] docs) drops
    * boilerplate windows BEFORE the pair self-join, which is what keeps
    * the join linear-ish at corpus scale — a window shared by a million
    * docs is boilerplate (d24's territory), not substring duplication,
    * and would otherwise contribute O(df²) pairs. The run grouping
    * shuffles by (doc_a, doc_b) — bounded by the true near-dup pair
    * count, not the corpus size. Collision risk of the 64-bit window
    * hash is the same corpus-scale bound documented at
    * [[decontaminate]] (~n²/2⁶⁴; switch both sides to a 128-bit hash
    * pair if a trillion-window corpus needs it). */
  private[operators] val SubW = 8
  private[operators] val SubDfCap = 20
  def sharedSubstrings(spark: SparkSession, sfDir: String): DataFrame =
    sharedSubstringsCore(docsWithToks(spark, sfDir))

  private[graft] def sharedSubstringsCore(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = docs
      .filter(size($"toks") >= SubW)
      .select($"doc_id", posexplode(expr(
        s"""transform(sequence(0, size(toks)-$SubW),
           i -> xxhash64(concat_ws(' ', slice(toks, i+1, $SubW))))"""))
        .as(Seq("pos", "h")))
    // ONE shuffle of the window table: gather each window's (doc, pos)
    // occurrence list and expand ordered pairs in place — the corpus is
    // never hashed twice and never self-joined. Singleton windows
    // (one distinct doc — can never pair) and boilerplate windows
    // (> SubDfCap distinct docs) prune inside the same aggregation.
    // Per-window list size is bounded by the df cap × within-doc
    // repeats, so the m² pair expansion is a small map-side loop.
    // r15 (measured, OPTIMIZATION_r15.md): the doc-frequency gate used
    // to be a countDistinct AGGREGATE next to the collect_list — the
    // distinct-aggregate rewrite doubled the ObjectHashAggregate
    // ladder (4 passes over the window table instead of 2). The same
    // nd falls out of the already-collected occurrence list per group
    // (list size bounded by df-cap × within-doc repeats), so the gate
    // is now a post-agg scalar filter. 1.5 s → ~1.1 s at sf0.1.
    val p = w.groupBy($"h")
      .agg(collect_list(struct($"doc_id", $"pos")).as("occ"))
      .filter(expr("size(array_distinct(transform(occ, a -> a.doc_id)))")
        .between(2, SubDfCap))
      .select(explode(expr(
        """flatten(transform(occ, a ->
             transform(filter(occ, b -> b.doc_id > a.doc_id),
               b -> struct(a.doc_id AS da, b.doc_id AS db,
                 a.pos AS pa, b.pos AS pb))))""")).as("pr"))
      .select($"pr.da", $"pr.db", $"pr.pa", $"pr.pb")
    val runs = p
      .withColumn("diag", $"pa" - $"pb")
      .withColumn("grp", $"pa" - row_number().over(
        Window.partitionBy($"da", $"db", $"diag").orderBy($"pa")))
      .groupBy($"da", $"db", $"diag", $"grp")
      .agg(count(lit(1)).as("nwin"))
    runs.groupBy($"da", $"db")
      .agg((max($"nwin") + lit(SubW - 1L)).as("longest_tokens"),
        sum($"nwin").as("n_windows"))
      .orderBy($"da", $"db")
  }

  /** d29: PageRank over the document similarity graph (nodes = all
    * docs, undirected edges = the d06 LSH near-dup pairs) — the graph
    * centrality a curation pipeline uses to pick the CANONICAL copy of
    * a duplicated document: highly-replicated content accumulates rank.
    * Five power iterations, damping 0.85.
    *
    * Cross-engine determinism, by construction rather than tolerance:
    * ranks are INTEGER pico-units (10¹² ≈ total mass), every update is
    * integer arithmetic — r₀ = 10¹²÷N, per-edge contribution
    * r÷deg, next r = (15·(10¹²÷N))÷100 + (85·Σcontrib)÷100 with ÷ =
    * floor division — so both engines produce bit-identical BIGINTs;
    * no float summation order anywhere. The oracle unrolls the five
    * iterations as CTEs over the same shared band/pair chain.
    *
    * Scale design: the edge list with degrees is checkpointed once and
    * re-joined per iteration; each iteration is one shuffled
    * contribution aggregation + one left join back to the node set —
    * the [[Graph.connectedComponents]] loop shape with a fixed
    * iteration count, linear per iteration in |E|. Ranks are
    * checkpointed per iteration so the plan never grows with the loop.
    * The only driver-side values are N (one count) and the two derived
    * Long constants. */
  def pageRank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id")
    val n = docs.count()
    val unit = 1000000000000L / n
    val base = 15L * unit / 100L
    val pairs = lshPairs(spark, sfDir).select($"d1", $"d2")
    val edges = pairs.select($"d1".as("src"), $"d2".as("dst"))
      .union(pairs.select($"d2".as("src"), $"d1".as("dst")))
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val ed = edges.join(deg, "src").localCheckpoint()
    var ranks = docs.select($"doc_id", lit(unit).as("r")).localCheckpoint()
    for (_ <- 1 to 5) {
      val contrib = ed.join(ranks.withColumnRenamed("doc_id", "src"), "src")
        .select($"dst", expr("r div deg").as("c"))
        .groupBy($"dst").agg(sum($"c").as("s"))
      ranks = docs
        .join(contrib.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select($"doc_id",
          (lit(base) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
        .localCheckpoint()
    }
    ranks.select($"doc_id", $"r".as("rank_pico")).orderBy($"doc_id")
  }

  /** d30: corpus-order novelty scoring — per document, the fraction of
    * its distinct 3-token shingles that NO earlier document (smaller
    * doc_id = earlier ingest) contains. The freshness signal an
    * incremental ingest pipeline tracks as it appends data: a crawl
    * whose novelty trend decays is re-crawling what the corpus already
    * holds. Complements s24 (which flags near-dup DOCS incrementally;
    * this measures marginal n-gram-level information).
    *
    * Scale design: one exploded distinct-shingle table feeds a
    * min(doc_id) hash-agg (the "first owner" of each shingle) and the
    * per-doc roll-up joins back ON THE SHINGLE KEY — the join reuses
    * the agg's exchange, so the pipeline is two map-side-combined aggs
    * + one co-partitioned join. Novelty ratio rounds in exact integer
    * rational arithmetic ([[graft.functions.Det.r4]]). */
  /** One row per (doc, distinct 3-token shingle) — the raw-string
    * shingle table shared by d30 and the s26 streaming novelty
    * ([[graft.streaming.StreamOps]]), so the shingle definition cannot
    * drift between the batch and streaming contracts. */
  private[graft] def distinctShingles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    docsWithToks(spark, sfDir)
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        """array_distinct(transform(sequence(0, size(toks)-3),
          g -> concat_ws(' ', toks[g], toks[g+1], toks[g+2])))""")).as("s"))
  }

  def noveltyScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // first-owner via ONE window over the shingle-partitioned table —
    // the d08 document-frequency lesson: the min-agg + join-back
    // alternative pays the (map-side) shingle explode TWICE and
    // shuffles the shingle table by s twice (agg + join); the window
    // rides a single exchange (measured ~35% off d30's sf0.1 wall)
    val sh = distinctShingles(spark, sfDir)
    sh.withColumn("first_doc",
        min($"doc_id").over(Window.partitionBy($"s")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      .select($"doc_id", $"n_grams", $"n_novel",
        r4($"n_novel", $"n_grams").as("novelty"))
      .orderBy($"doc_id")
  }

  /** d45: sliding-window chunking with overlap — the ingest step every
    * RAG / long-context training pipeline runs before embedding: each
    * document splits into 32-token chunks on a 16-token stride (50%
    * overlap so no boundary sentence is lost), each chunk carrying its
    * provenance (doc_id, index, token offset) and a content hash for
    * downstream chunk-level dedup. Tail chunks keep their natural
    * (shorter) length — the deterministic naive contract, identical in
    * both engines' clamped list slicing.
    *
    * Scale design: chunk generation is a map-side explode of a
    * per-doc index sequence (⌈n/stride⌉ rows per doc — no shuffle,
    * no self-join); the only exchange is the output ordering. At
    * 100 TB this is a pure scan whose output feeds the embedding
    * stage partitioned however that stage needs. */
  def chunkOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val C = ChunkLen; val S = ChunkStride
    docsWithToks(spark, sfDir)
      .withColumn("n", size($"toks"))
      .select($"doc_id", $"toks",
        explode(expr(s"sequence(0, cast((n - 1) / $S AS int))")).as("i"))
      .withColumn("start_tok", ($"i" * S).cast("long"))
      .withColumn("chunk", expr(s"slice(toks, start_tok + 1, $C)"))
      .select($"doc_id", $"i".cast("long").as("chunk_idx"), $"start_tok",
        size($"chunk").cast("long").as("n_tok"),
        md5(concat_ws(" ", $"chunk")).as("chunk_hash"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** d56 banding constants: each FULL 32-token chunk splits into
    * [[ChunkSubN]] positional [[ChunkSub]]-token sub-chunks; a chunk
    * pair is a near-dup if ≥ [[ChunkMinPos]] same-position sub-hashes
    * match (tolerates edits confined to the other sub-chunks — the
    * SimHash segment-banding pigeonhole at chunk granularity); a
    * (pos, sub-hash) bucket holding more than [[ChunkDfCap]] chunks is
    * excluded (the d46 df-cap discipline: skew bound + boilerplate
    * attractors are exactly the buckets that would chain unrelated
    * text). */
  private[graft] val ChunkSub = 8
  private[graft] val ChunkSubN = 4
  private[graft] val ChunkMinPos = 2
  private[graft] val ChunkDfCap = 50L

  /** d56: CHUNK-LEVEL near-dup with DOC-LEVEL rollup — the
    * fine-grained dedup shape fine-data pipelines actually run (the
    * C4/RefinedWeb paragraph-dedup): whole-doc near-dup (d06) and
    * containment (d46) bracket it but neither says HOW MUCH of each
    * document is duplicated text. Over d45's chunk grid (32-token
    * windows, 16-token stride — the shared `chunkCte` text), each FULL
    * chunk's 4 positional 8-token sub-hashes are banded; chunks of
    * DIFFERENT documents matching on ≥ 2 positions are near-dup
    * chunk pairs (cross-doc only — intra-doc repetition is d18's
    * statistic, and the 50%-overlapping grid would trivially self-match
    * neighbors); the per-doc rollup reports the fraction of full
    * chunks with any cross-doc near-match and the keep/trim decision
    * (trim when more than half the doc is duplicated text — the
    * integer comparison n_dup·2 > n_chunks, no float threshold).
    *
    * Scale design: the candidate generator is banded AND df-capped —
    * every (pos, sub-hash) bucket holds ≤ [[ChunkDfCap]] chunks, so
    * candidate volume is Σ min(df, cap)² per bucket, NEVER chunk-pairs²
    * (the 100× probe pins the slope); the rollup joins flagged chunks
    * back on the (doc, chunk) key the grid already carries. Sub-hashes
    * travel as md5 strings of 8-token windows — one codegen'd pass,
    * no self-join before the bucket cap. */
  def chunkDupRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val chunks = docsWithToks(spark, sfDir)
      .withColumn("n", size($"toks"))
      .select($"doc_id", $"toks",
        explode(expr(s"sequence(0, cast((n - 1) / $ChunkStride AS int))"))
          .as("i"))
      .withColumn("chunk",
        expr(s"slice(toks, i * $ChunkStride + 1, $ChunkLen)"))
      .filter(size($"chunk") === ChunkLen)
      .select($"doc_id", $"i".cast("long").as("chunk_idx"), $"chunk")
    val subs = chunks.select($"doc_id", $"chunk_idx",
      posexplode(expr(
        s"""transform(sequence(0, ${ChunkSubN - 1}),
           j -> md5(concat_ws(' ', slice(chunk, j * $ChunkSub + 1, $ChunkSub))))"""))
        .as(Seq("pos", "sh")))
    val rare = subs.join(
      subs.groupBy($"pos", $"sh").agg(count(lit(1)).as("dfc"))
        .filter($"dfc" <= ChunkDfCap),
      Seq("pos", "sh"))
    val pairs = rare.as("a")
      .join(rare.as("b"),
        col("a.pos") === col("b.pos") && col("a.sh") === col("b.sh") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("a.chunk_idx").as("c1"),
        col("b.doc_id").as("d2"), col("b.chunk_idx").as("c2"))
      .agg(count(lit(1)).as("npos"))
      .filter($"npos" >= ChunkMinPos)
    val flagged = pairs.select($"d1".as("doc_id"), $"c1".as("chunk_idx"))
      .union(pairs.select($"d2".as("doc_id"), $"c2".as("chunk_idx")))
      .distinct()
      .withColumn("dup", lit(1L))
    chunks.select($"doc_id", $"chunk_idx")
      .join(flagged, Seq("doc_id", "chunk_idx"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce($"dup", lit(0L))).as("n_dup"))
      .select($"doc_id", $"n_chunks", $"n_dup",
        r4($"n_dup", $"n_chunks").as("dup_frac"),
        when($"n_dup" * 2L > $"n_chunks", "trim").otherwise("keep")
          .as("action"))
      .orderBy($"doc_id")
  }

  /** The d45/d56 chunk-grid geometry — ONE pair of constants shared by
    * the chunker, the rollup, and both oracle texts. */
  private[graft] val ChunkLen = 32
  private[graft] val ChunkStride = 16

  /** Containment (overlap-coefficient) threshold and the rare-shingle
    * document-frequency cap that defines d46's candidate contract. */
  private[operators] val ContainDfCap = 50L

  /** d46: sub-document containment — partial duplication that Jaccard
    * dedup (d06/d08) is BLIND to: a short document wholly quoted inside
    * a much longer one has overlap coefficient |A∩B|/min(|A|,|B|) ≈ 1
    * but Jaccard ≈ |A|/|B| ≈ 0, so it collides in no MinHash band.
    * Contract (r14): pairs whose RARE-shingle overlap — 3-shingles
    * with corpus df ≤ 50 (the d37 posting-cap discipline, here
    * doubling as the skew bound) — is ≥ 0.8 of the smaller doc's
    * distinct-shingle count, with the Jaccard alongside so a consumer
    * sees which pairs plain near-dup would have caught. The df cap is
    * part of the declared contract and applies to BOTH the candidate
    * rule and the overlap count (one definition, oracle-mirrored):
    * containment evidence lives in rare shingles; boilerplate shingles
    * (df > cap) are exactly the ones that would chain unrelated
    * documents. At every fixture and probe df profile the capped
    * count equals the full intersection (measured max df = 25 at
    * sf0.1; the probe's token salting preserves per-replica df).
    *
    * Scale design: the candidate self-join keys on rare shingles only,
    * so every bucket holds ≤ cap docs (≤ cap² pairs per shingle) — the
    * unbounded-bucket skew of a full shingle join cannot occur — and
    * `common` is COUNTED inside that join (map-side-combined hash-agg
    * over 32-byte rows), so no per-doc array ever rides an exchange;
    * see the replan note in the body for the measured history.
    * Threshold test is the cross-multiplied integer predicate 5·common
    * ≥ 4·min(n1,n2) — no double compare. Like every pair-emitting op
    * here, output is c² per duplicate group (see the d08/SURVEY §6
    * caveat); the cluster-emitting composition canonicalizes first.
    *
    * COLLISION CAVEAT: shingle sets are xxhash64 values, not raw
    * strings, so two DISTINCT shingles colliding in 64 bits would
    * inflate `common` / shrink n (and diverge from a raw-string
    * oracle). Birthday bound: P(any collision) ≈ m²/2⁶⁵ for m distinct
    * corpus shingles — negligible at fixture scale, ~3% at m = 10¹⁰
    * (a 100 TB corpus). The d08 Jaccard path carries the same caveat.
    * At that scale either accept the ppb-level per-pair error (each
    * collision perturbs one count by 1; the 0.8 threshold is not
    * knife-edge) or confirm candidates on raw shingles in the verify
    * join — the candidate generator is unaffected (a collision only
    * ADDS a candidate pair, which exact verify then rejects). */
  def containmentDups(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // r14 replan (third iteration — each measured by the 100× probe):
    // the r12 shape OOM'd twice on a corpus-sized localCheckpoint; the
    // r13 shape survived but measured 143.6×/668 s, because this
    // corpus's shingle-overlap DENSITY makes ~9% of all doc pairs
    // candidates (1.13M distinct pairs at sf0.1, linear ×100 at the
    // probe) and the verify joins dragged two ~420 B shingle ARRAYS
    // onto every pair (~96 GB of shuffle at 100× — the measured 57 GB
    // tmpfs spill). The count-based shape never ships arrays at all:
    // `common` is counted INSIDE the rare-shingle pair join itself
    // (one map-side-combined hash-agg over slim (d1, d2, n1, n2)
    // rows), doc sizes ride the join columns, and the old
    // distinct/localCheckpoint/semi-join/array-intersect stages all
    // disappear. Per-pair state through every exchange is 32 bytes.
    //
    // CONTRACT (r14, oracle-mirrored): candidates AND the overlap
    // count share one definition — shingles with df ≤ [[ContainDfCap]].
    // The old plan mixed definitions (candidates from rare shingles,
    // `common` from the FULL intersection); the capped count is
    // value-identical at every fixture and probe df profile (measured
    // max df = 25 < 50 at sf0.1; the probe's token salting preserves
    // per-replica df), and at a true 100 TB df distribution it bounds
    // the pair join where ultra-common shingles would otherwise
    // explode it quadratically — overlap is scored on the
    // DISCRIMINATIVE shingles, consistent with the candidate rule
    // (a pair whose entire overlap is ultra-common shingles was
    // by-contract unseen already).
    //
    // The session cache holds the RARE-SHINGLE POSTING INDEX itself —
    // (doc_id, n, h) rows, df-filtered — not the per-doc arrays the
    // r13 cache held: it is what every run actually consumes (the
    // arrays existed only to be re-exploded), it is SLIMMER (24-byte
    // rows vs array blobs), and caching it keeps the tokenize +
    // explode + df-window index build out of the per-run path (AQE
    // broadcasts the small side of the pair join, which would
    // otherwise evaluate the window subtree TWICE per run). Cold pays
    // the index build once per session; the ledger's cold column
    // records it (the d06/v08 session-cache convention).
    // bound: at most one (doc_id, n, h) row per distinct shingle of each document
    val rare = FixtureCache.checkpointed(spark, sfDir, "d46_rare") {
      docsWithToks(spark, sfDir)
        .repartition(spark.sparkContext.defaultParallelism)
        .filter(size($"toks") >= 3)
        .select($"doc_id", explode(expr(
          """array_distinct(transform(sequence(0, size(toks)-3),
            g -> xxhash64(concat_ws(' ', toks[g], toks[g+1], toks[g+2]))))""")).as("h"))
        .groupBy($"doc_id")
        .agg(sort_array(collect_list($"h")).as("hs"),
          count(lit(1)).as("n"))
        .select($"doc_id", $"n", explode($"hs").as("h"))
        // r15: pin the df-window exchange at defaultParallelism (the
        // e38/e37 discipline, OPTIMIZATION_r15.md): AQE's size-based
        // coalescing collapsed this post-shuffle stage — and therefore
        // the cached index's partitioning, and with it the ~1.3M-pair
        // join + count-agg that every run executes — to ONE task at
        // fixture scale. Same single exchange (the window reuses the
        // hash(h) partitioning); at cluster scale AQE never coalesces.
        .repartition(spark.sparkContext.defaultParallelism, $"h")
        .withColumn("df", count(lit(1)).over(Window.partitionBy($"h")))
        .filter($"df" <= ContainDfCap)
        .select($"doc_id", $"n", $"h")
    }
    rare.as("a")
      .join(rare.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      // r15: n1/n2 are functions of d1/d2 — carrying them as GROUP
      // KEYS doubled the hash-map key width of the biggest agg in the
      // plan (1.1M groups × partial+final); min() returns the same
      // constant per pair at half the key bytes
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("common"),
        min($"a.n").as("n1"), min($"b.n").as("n2"))
      .filter($"common" * 5L >= least($"n1", $"n2") * 4L)
      .select($"d1", $"d2", $"n1", $"n2", $"common",
        r4($"common", least($"n1", $"n2")).as("containment"),
        r4($"common", $"n1" + $"n2" - $"common").as("jaccard"))
      .orderBy($"d1", $"d2")
  }

  /** d52: incremental near-dup — the PRODUCTION dedup shape once a
    * corpus is live: when a batch of new documents lands, find each
    * new doc's near-duplicates against the EXISTING corpus and within
    * the new batch itself, WITHOUT ever re-pairing old×old (that work
    * was done when the old corpus was deduped; redoing it is the
    * difference between an O(new) nightly job and an O(corpus) one).
    * New arrivals are the d49 snapshot rules' "added" set (in NEW,
    * not OLD — shared [[SnapOldMod]]/[[SnapNewMod]] literals, so the
    * incremental split can never drift from the d49/s39 diff), the
    * existing corpus is the OLD snapshot. Output: (d_new, d_match,
    * phase ∈ {corpus, batch}, est_jaccard ≥ 0.5) — d06's MinHash
    * pipeline restricted to pairs touching a new doc. This is the
    * batch face of s24 (which does the same thing one micro-batch at
    * a time against a RocksDB band index).
    *
    * Scale design: both candidate joins probe the SHARED band table
    * ([[lshBands]] — same cache the full d06 run uses): new-batch
    * band rows (≈ |new|·4) hash-join the old corpus's band index on
    * (band, bh) — the cost is driven by the new batch and the bucket
    * hit rate, not corpus size — and the within-batch self-join is
    * |new|-sized. Signature verification joins only candidate ids.
    * At 100 TB corpus + 100 GB daily batch, every shuffle here is
    * batch-sized; the corpus contributes one build-side scan of its
    * band index (on a cluster: a bucketed/stored index, point
    * lookups). */
  def incrementalNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sigs = sigsCached(spark, sfDir)
    val bands = lshBands(spark, sfDir)
    val isOld = col("doc_id") % SnapOldMod =!= (SnapOldMod - 1)
    val isNew = (col("doc_id") % SnapOldMod === (SnapOldMod - 1)) &&
      (col("doc_id") % SnapNewMod =!= (SnapNewMod - 1))
    val oldBands = bands.filter(isOld)
    val newBands = bands.filter(isNew)
    val vsCorpus = newBands.as("a").join(oldBands.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh")
      .select($"a.doc_id".as("d_new"), $"b.doc_id".as("d_match"),
        lit("corpus").as("phase"))
    val vsBatch = newBands.as("a").join(newBands.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d_new"), $"b.doc_id".as("d_match"),
        lit("batch").as("phase"))
    vsCorpus.unionByName(vsBatch).distinct()
      .join(sigs.select($"doc_id".as("d_new"), $"sig".as("sig_n")), "d_new")
      .join(sigs.select($"doc_id".as("d_match"), $"sig".as("sig_m")),
        "d_match")
      .select($"d_new", $"d_match", $"phase",
        round(expr(
          "size(filter(zip_with(sig_n, sig_m, (x, y) -> x = y), m -> m))")
          / lit(16.0), 4).as("est_jaccard"))
      .filter($"est_jaccard" >= 0.5)
      .orderBy($"d_new", $"d_match")
  }

  /** d54 band layouts over the 16 minhash permutations: (bands,
    * rows-per-band) with b·r = 16 — from high-precision (2 bands of 8:
    * a candidate must match 8 straight permutations) to the degenerate
    * recall-max (16 bands of 1: any shared permutation minimum is a
    * candidate). The deployed d06 layout is (4, 4). */
  private[graft] val BandLayouts = Seq((2, 8), (4, 4), (8, 2), (16, 1))

  /** d54: LSH banding tuning curve — the (b, r) trade-off every
    * MinHash deployment sets, measured instead of guessed: for each
    * [[BandLayouts]] layout over the SAME 16-permutation signatures,
    * the candidate-pair volume (the cost axis: pairs that must be
    * verified) and the candidate recall against d08's exact-Jaccard
    * ≥ 0.5 ground truth (the quality axis). Banding theory says a
    * true pair at similarity s survives with 1-(1-s^r)^b — wider
    * bands (big r) crush the candidate volume but lose borderline
    * pairs, and r = 1 explodes: on the sf0.1 fixture the candidate
    * count runs 236 → 282 → 1 061 → 159 424 across the four layouts.
    * v26 is the same readout for the IVF index (nprobe); this is the
    * dedup-index counterpart.
    *
    * Determinism: exact counts; recall is the r4 exact rational;
    * layouts ride as literals.
    *
    * Scale design: signatures are computed ONCE (the shared d06
    * cache); each layout is one band self-join whose cost IS the
    * measured quantity — the r = 1 row exists precisely to show the
    * blow-up a deployment must avoid (its bucket key is a single
    * permutation minimum, so bucket sizes approach document frequency
    * of the commonest shingle — the curve is how you find that out at
    * sf0.1, not at 100 TB). The truth set rides d08's declared
    * prefix-filtered contract; hit-counting joins only candidate
    * pairs. */
  def bandingCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sigs = sigsCached(spark, sfDir)
    val truth = ngramJaccard(spark, sfDir)
      .select($"d1", $"d2", lit(1L).as("t"))
    val perLayout = BandLayouts.map { case (b, r) =>
      val bands = sigs.select($"doc_id", explode(expr(
        s"""transform(sequence(0, ${b - 1}),
          bb -> struct(bb AS band,
            array_join(transform(slice(sig, bb*$r + 1, $r),
              v -> cast(v as string)), '|') AS bh))""")).as("x"))
        .select($"doc_id", $"x.band".as("band"), $"x.bh".as("bh"))
      bands.as("a")
        .join(bands.as("b"),
          $"a.band" === $"b.band" && $"a.bh" === $"b.bh" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
        .distinct()
        .join(truth, Seq("d1", "d2"), "left")
        .agg(count(lit(1)).as("n_candidates"),
          coalesce(sum($"t"), lit(0L)).as("n_hit"))
        .select(lit(b.toLong).as("b"), lit(r.toLong).as("r"),
          $"n_candidates", $"n_hit")
    }
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    perLayout.reduce(_ unionByName _)
      .crossJoin(broadcast(nTruth))
      .select($"b", $"r", $"n_candidates", $"n_hit", $"n_truth",
        graft.functions.Det.r4($"n_hit", $"n_truth").as("recall"))
      .orderBy($"b")
  }

  /** d50: cross-source contamination matrix — the provenance-hygiene
    * report run before mixing crawl snapshots: for every unordered
    * source pair, the number of distinct 3-token shingles present in
    * BOTH sources, each side's distinct shingle count, and the overlap
    * coefficient |A∩B| / min(|A|,|B|) — the containment-style measure
    * that stays meaningful when source sizes differ 100× (1.0 means
    * the smaller source's shingle set is a subset of the larger: a
    * mirror). Complements d21 (which finds cross-source duplicate
    * DOCUMENTS); this measures corpus-level content sharing even when
    * no single document crosses a dedup threshold.
    *
    * Determinism: exact distinct counts; overlap is the r4 exact
    * rational; (src_a, src_b) lexicographic with src_a < src_b.
    *
    * Shingles travel as xxhash64 int64s (the d15/d46 collision bound:
    * a ~2⁻⁶⁵-per-pair birthday collision could merge two shingles —
    * negligible at fixture scale, and at ~10B distinct shingles the
    * documented widening is two independent xxhash64 seeds); the
    * oracle states the same counts over raw shingle strings.
    *
    * Scale design: raw text collapses to DISTINCT (shingle-hash,
    * source) rows in ONE map-side-combined shuffle; per-shingle source
    * sets are ≤ |sources| = 20 by construction so the pair explode is
    * ≤ C(20,2) per shingle — map-side, bounded — and the (src_a,
    * src_b) hash-agg output is the bounded 20×20 triangle; per-source
    * totals are a |sources|-row broadcast. No corpus self-join
    * anywhere; at 10⁴ sources the per-shingle set bound grows and the
    * explode caps at sources-sharing-a-shingle (df-style skew: a
    * shingle in EVERY source costs C(n,2) — prune shingles above a
    * source-df cap first, as d46 does for doc-df). */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // r15 (measured, OPTIMIZATION_r15.md): ONE exchange instead of
    // three, no duplicate tokenize pass. The old shape materialized a
    // distinct (source, shingle) table — an extra (source, h) exchange
    // — and then consumed it from TWO lazy branches (per-source totals
    // and the pair path), re-running the scan + shingle explode for
    // each. Now the single groupBy(h) collect_set exchange (collect_set
    // dedups (h, source) itself) is checkpointed (|distinct shingles|
    // rows, source-sets ≤ |sources|), the pair explode reads it, and
    // the totals fall out of exploding the SAME grouped table —
    // count per source of set-membership rows ≡ the old distinct
    // count. 1.2 s → ~0.6 s at sf0.1.
    val bySh = docsWithToks(spark, sfDir)
      .filter(size($"toks") >= 3)
      .select($"source", explode(expr(
        """array_distinct(transform(sequence(0, size(toks)-3),
          g -> xxhash64(concat_ws(' ', toks[g], toks[g+1], toks[g+2]))))"""))
        .as("h"))
      .groupBy($"h")
      .agg(sort_array(collect_set($"source")).as("srcs"))
      .localCheckpoint()
    val totals = bySh.select(explode($"srcs").as("source"))
      .groupBy($"source").agg(count(lit(1)).as("n_shingles"))
    val pairs = bySh
      .filter(size($"srcs") >= 2)
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          transform(slice(srcs, i + 2, size(srcs)),
            b -> struct(a AS src_a, b AS src_b))))""")).as("p"))
      .select($"p.src_a", $"p.src_b")
      .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(totals.toDF("src_a", "n_a")), Seq("src_a"))
      .join(broadcast(totals.toDF("src_b", "n_b")), Seq("src_b"))
      .select($"src_a", $"src_b", $"n_common", $"n_a", $"n_b",
        r4($"n_common", least($"n_a", $"n_b")).as("overlap"))
      .orderBy($"src_a", $"src_b")
  }

  /** d51: dedup-method agreement matrix — the methods-quality audit a
    * pipeline owner runs before trusting a near-dup detector: for each
    * pair of methods among MinHash-LSH (d06, estimated Jaccard ≥ 0.5),
    * SimHash (d19, Hamming ≤ 1), and exact n-gram Jaccard (d08, ≥ 0.5
    * — the ground truth the other two approximate), the sizes of the
    * two detected pair sets, their intersection and union, and the
    * pair-set Jaccard agreement. Composes the three DECLARED queries
    * unchanged, so the audited sets are exactly what d06/d19/d08
    * report (and their session-cached signature/pair tables are
    * reused, not rebuilt).
    *
    * Determinism: exact counts; agreement is the r4 exact rational,
    * NULL on an empty union; method names give the total order.
    *
    * Scale design: inputs are the c²-per-dup-group pair TABLES (tiny
    * relative to the corpus — the d06/d08 scale notes apply to
    * producing them); the method self-join keys on (d1, d2) where
    * each method contributes at most one row, so fan-out is ≤ 3 per
    * pair; the 3-row method-pair seed and per-method totals are
    * broadcasts. */
  def methodAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val all =
      minhashLsh(spark, sfDir).select($"d1", $"d2", lit("minhash").as("m"))
        .unionAll(simhashNearDup(spark, sfDir)
          .select($"d1", $"d2", lit("simhash").as("m")))
        .unionAll(ngramJaccard(spark, sfDir)
          .select($"d1", $"d2", lit("jaccard").as("m")))
    val totals = all.groupBy($"m").agg(count(lit(1)).as("n"))
    val seed = Seq(("jaccard", "minhash"), ("jaccard", "simhash"),
      ("minhash", "simhash")).toDF("method_a", "method_b")
    val both = all.toDF("d1", "d2", "ma")
      .join(all.toDF("d1", "d2", "mb"), Seq("d1", "d2"))
      .filter($"ma" < $"mb")
      .groupBy($"ma".as("method_a"), $"mb".as("method_b"))
      .agg(count(lit(1)).as("n_both"))
    seed
      .join(both, Seq("method_a", "method_b"), "left_outer")
      .join(broadcast(totals.toDF("method_a", "n_a")),
        Seq("method_a"), "left_outer")
      .join(broadcast(totals.toDF("method_b", "n_b")),
        Seq("method_b"), "left_outer")
      .withColumn("n_a", coalesce($"n_a", lit(0L)))
      .withColumn("n_b", coalesce($"n_b", lit(0L)))
      .withColumn("n_both", coalesce($"n_both", lit(0L)))
      .withColumn("n_union", $"n_a" + $"n_b" - $"n_both")
      .select($"method_a", $"method_b", $"n_a", $"n_b", $"n_both",
        $"n_union",
        when($"n_union" > 0L, r4($"n_both", $"n_union")).as("agreement"))
      .orderBy($"method_a", $"method_b")
  }
}
