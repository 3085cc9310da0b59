package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{FixtureCache, Tables}
import graft.functions.Det
import org.apache.spark.sql.graft.VectorExpressions.{cosine, dot, lshBands, norm}

/** Embedding / similarity-search operators over `embeddings`
  * (Array[Float], dim 64): brute-force cosine top-k, kNN-join
  * classification, per-label centroids, nearest-centroid
  * classification, multi-band sign-LSH near-dup + dup clusters,
  * sign-LSH / IVF bucketed ANN, k-means, int8-quantized candidate
  * scan with exact re-rank, and vector stats.
  *
  * Scale path (100 TB of embeddings):
  *  - the query vector / centroid set is always the broadcast side —
  *    the big table streams through a codegen'd cosine loop
  *    ([[org.apache.spark.sql.graft.VectorExpressions]]) with no shuffle at all;
  *  - global top-k goes through TakeOrderedAndProject (per-partition
  *    heap + driver merge), never a full sort; per-GROUP top-k goes
  *    through the bounded [[graft.functions.TopKAggregator]] buffer;
  *  - all-pairs near-dup is the one genuinely quadratic op — v08
  *    bounds it with band-bucket LSH collisions (codegen'd
  *    `graft_lsh_bands` codes, equi-join on (band, code)), and v12
  *    shows the compressed-scan path (int8 candidates, exact re-rank
  *    on ~corpus/40000 rows).
  */
object VectorOps {

  /** HALF_UP 6-dp rounding — the cross-engine determinism contract for
    * every trained centroid (v09 Lloyd, v13 PQ codebooks): both engines
    * must iterate from IDENTICAL values, and DuckDB's round() is
    * half-away-from-zero. ONE definition so the contract can't drift. */
  private def round6(x: Double): Double = BigDecimal(x)
    .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Sequential left-to-right dot product — bit-identical to DuckDB's
    * `list_dot_product` on the same inputs (same op sequence). */
  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }; s
  }

  private[graft] def embDouble(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .withColumn("v", col("embedding").cast("array<double>"))

  /** Brute-force cosine top-20 against the vec_id=0 query vector. */
  def cosineTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embDouble(spark, sfDir)
    val q = e.filter($"vec_id" === 0).select($"v".as("qv"))
    e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id",
        round(cosine($"v", $"qv"), 6).as("cos"))
      .orderBy(desc("cos"), $"vec_id")
      .limit(20)
  }

  /** v11/v14 anchor-batch id bound — the kNN-join "fixed query
    * workload" contract as a constant: covers every fixture vec_id
    * (max 1999 at sf0.1) so fixture results are unchanged, and stays
    * CONSTANT as the corpus grows so the scored-pair space is
    * O(corpus), never O(corpus²). Mirrored verbatim in both oracles. */
  private[graft] val KnnAnchorIdBound = 2048L

  /** kNN-join classification: every label-0 vector is a query; its
    * label is re-predicted as the majority label among its 5 nearest
    * neighbors (cosine, self excluded), ties broken toward the smaller
    * label. The kNN-JOIN shape — a bounded query set against the full
    * corpus — is the similarity-search staple that brute-force v01 does
    * for one query.
    *
    * Scale design: the query set is the BROADCAST side (a query
    * workload is bounded; the corpus is not), so the corpus streams
    * through one codegen'd cosine pass with no shuffle of the big side;
    * per-query top-5 is a bounded-buffer aggregation
    * ([[graft.functions.TopKAggregator]]): map-side combine keeps at
    * most 5 candidates per (query, partition), so the shuffle carries
    * ≤ 5 rows per (query, partition) instead of every scored pair —
    * the v01 TakeOrderedAndProject pattern generalized per query.
    * Ranking uses round(cos, 6) with a vec_id tiebreak so both engines
    * agree on the neighbor set despite last-ulp float differences.
    *
    * The query batch is EXPLICITLY bounded at [[KnnAnchorIdBound]]
    * (r14): "every label-0 vector" is a batch that scales WITH the
    * corpus, which makes the scored-pair space quadratic — the r13
    * 100× probe died on exactly that (the per-task partial-agg sort
    * fallback spilling the n²/10 scored rows). The kNN-join contract
    * is a FIXED query workload against a growing corpus; the constant
    * id bound covers every fixture id (max 1999), so fixture results
    * are unchanged, while at any larger corpus the batch stays the
    * base queries instead of growing with it. */
  def knnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embDouble(spark, sfDir)
    val q = e.filter($"label" === 0 && $"vec_id" < KnnAnchorIdBound)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val scored = e.select($"vec_id", $"label", $"v")
      .crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", $"label",
        round(cosine($"v", $"qv"), 6).as("cos"))
    val topk = udaf(new graft.functions.TopKAggregator(5),
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredNeighbor])
    val top5 = scored
      .groupBy($"q_id")
      .agg(topk($"cos", $"vec_id", $"label").as("top"))
      .select($"q_id", explode($"top").as("t"))
      .select($"q_id", $"t.label".as("label"))
    top5.groupBy($"q_id", $"label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy($"q_id").orderBy(desc("votes"), $"label")))
      .filter($"vr" === 1)
      .select($"q_id", $"label".as("predicted"), $"votes")
      .orderBy($"q_id")
  }

  /** Hard-negative mining (the contrastive-training data op): for every
    * label-0 anchor, the 3 most-similar vectors with a DIFFERENT label —
    * the near-miss negatives that make an embedding model train, mined
    * corpus-wide. Same kNN-join scale shape as [[knnClassify]]: anchors
    * broadcast, corpus streams through one codegen'd cosine pass with
    * the label filter applied before scoring, per-anchor top-3 through
    * the bounded [[graft.functions.TopKAggregator]] buffer (≤ 3 rows per
    * (anchor, partition) reach the shuffle).
    *
    * The anchor set is EXPLICITLY bounded ([[KnnAnchorIdBound]]): the
    * kNN-join contract is a fixed query workload against a growing
    * corpus — an anchor set that scaled WITH the corpus makes the
    * scored-pair space quadratic (measured: 123 s on the 10× dup-heavy
    * probe without any bound, linear with it). The bound was 100000
    * until r14; the 100× probe showed an id bound re-inflates when the
    * id space densifies (50 replicas slipped under it → ~10k anchors →
    * 2·10⁹ scored rows → executor-memory death), so it is now the
    * shared constant sized to the fixture id range. At fixture scale
    * the bound is a no-op; a production run sizes it to its anchor
    * batch. */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embDouble(spark, sfDir)
    val q = e.filter($"label" === 0 && $"vec_id" < KnnAnchorIdBound)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val scored = e.filter($"label" =!= 0)
      .select($"vec_id", $"label", $"v")
      .crossJoin(broadcast(q))
      .select($"q_id", $"vec_id", $"label",
        round(cosine($"v", $"qv"), 6).as("cos"))
    val topk = udaf(new graft.functions.TopKAggregator(3),
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredNeighbor])
    scored.groupBy($"q_id")
      .agg(topk($"cos", $"vec_id", $"label").as("top"))
      .select($"q_id", posexplode($"top").as(Seq("r0", "t")))
      .select($"q_id", ($"r0" + 1).cast("long").as("rank"),
        $"t.vec_id".as("neg_id"), $"t.label".as("neg_label"),
        $"t.cos".as("cos"))
      .orderBy($"q_id", $"rank")
  }

  /** Per-label centroids, one row per (label, dimension). */
  def centroids(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    embDouble(spark, sfDir)
      .select($"label", posexplode($"v").as(Seq("pos", "x")))
      .groupBy($"label", $"pos".cast("long").as("pos"))
      .agg(round(avg($"x"), 6).as("c"), count(lit(1)).as("n"))
      .orderBy($"label", $"pos")
  }

  /** Nearest-centroid classification → confusion matrix
    * (true label × predicted label). Centroids are broadcast; each
    * vector scans the 10 centroids in one codegen'd pass. */
  def nearestCentroid(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embDouble(spark, sfDir)
    val cent = e
      .select($"label".as("c_label"), posexplode($"v").as(Seq("pos", "x")))
      .groupBy($"c_label", $"pos")
      .agg(avg($"x").as("c"))
      .groupBy($"c_label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .as("cv"))
    val w = Window.partitionBy($"vec_id").orderBy(desc("cos"), $"c_label")
    e.crossJoin(broadcast(cent))
      .withColumn("cos", cosine($"v", $"cv"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .groupBy($"label", $"c_label".as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"label", $"predicted")
  }

  /** Cosine near-duplicate pairs (≥ 0.4). Brute-force triangular join —
    * the exact small-scale baseline and the correctness cross-check for
    * [[lshNearDup]] (v08), which is the bounded scale path AND the
    * declared query. This one is O(n²) by construction
    * (BroadcastNestedLoopJoin) and therefore NOT declared in `queries`:
    * a cartesian plan has no business in a 100 TB query set. It lives on
    * as the recall oracle in `LshRecallSpec`, run on sampled inputs
    * only. */
  def embedNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val a = embDouble(spark, sfDir).select($"vec_id".as("d1"), $"v".as("v1"))
    val b = embDouble(spark, sfDir).select($"vec_id".as("d2"), $"v".as("v2"))
    a.join(b, $"d1" < $"d2")
      .withColumn("cos", cosine($"v1", $"v2"))
      .filter($"cos" >= 0.4)
      .select($"d1", $"d2", round($"cos", 6).as("cos"))
      .orderBy($"d1", $"d2")
  }

  // v08 LSH parameters: 8 bands × 8 signed random projections per
  // band, computed by the codegen'd [[org.apache.spark.sql.graft
  // .VectorExpressions.LshBandCodes]] expression (one tight loop per
  // row; the naive 64-separate-dot-expressions formulation generated a
  // method too large for JIT and ran interpreted). The ±1 hyperplane
  // entries are the parity of md5("g:j")'s first hex digit — md5
  // exists in both engines, so the oracle reproduces the band codes
  // bit-for-bit, and the planes are cryptographically decorrelated.
  // (A previous linear-congruence parity formula made adjacent planes
  // nearly identical — the per-j increment barely moved the quotient —
  // so band bits collapsed and ~11% of ALL pairs became candidates;
  // md5 restores the 2^-k bucket selectivity the band math assumes.)

  /** Bounded embedding near-dup (the v04 contract made scale-safe):
    * candidate pairs come from multi-band sign-LSH — L=8 bands of k=8
    * signed random projections; two vectors are candidates iff ALL 8
    * sign bits of some band agree — then candidates (and only
    * candidates) are verified with exact cosine ≥ 0.4.
    *
    * Mirrors d06's MinHash structure: band-bucket equi-join (shuffle
    * hash join, linear in candidates), never a nested-loop scan; the
    * projections run through the codegen'd `graft_dot`. Like every LSH
    * dedup this trades recall for boundedness: collision probability
    * per bit is 1 − θ/π, so genuinely near-identical vectors
    * (cos ≥ 0.9) collide in some band with high probability while
    * orthogonal pairs almost never do. The declared output contract is
    * "colliding pairs with cos ≥ 0.4 within a bucket sub-block", which
    * the oracle replicates exactly — v04 (brute force) is the recall
    * cross-check at sampled scale.
    *
    * Sub-block cap (REPLANNED r14 — the 100× probe killed the
    * uncapped plan's JVM): the code space per band is FIXED at 2⁸
    * buckets, so bucket sizes grow LINEARLY with the corpus and the
    * within-bucket pair count grows QUADRATICALLY — n²/(2·2⁸) per
    * band by pigeonhole, ~6·10⁸ candidates at the 200k-vector probe
    * (measured bucket profile at sf0.1: max 28, avg 7.9 over 2032
    * occupied buckets). The v15 SemB discipline applies verbatim:
    * within a (band, code) bucket rows pair only inside their
    * ⌊rank/[[LshBlk]]⌋ sub-block (rank = row_number by vec_id —
    * explicit, oracle-mirrored), so a bucket of size s costs
    * ≤ s·LshBlk/2 pairs instead of s²/2 and total candidates are
    * O(n·L·LshBlk) — linear at any corpus size. The cap never binds
    * below ~LshBlk·2⁸ corpus vectors per band (every fixture SF:
    * max bucket 28 < 64); past it, pairs across sub-blocks of an
    * over-cap bucket are by-contract unseen — the LSH recall trade
    * in its usual form (a production run re-tiers with more bands /
    * wider codes; the fixture contract keeps 8×8). */
  // materialized once per session: v08 declares the pairs, v10 clusters
  // them — same sharing pattern as d06/d12
  private[operators] def lshPairs(spark: SparkSession, sfDir: String): DataFrame =
    // bound: one row per verified pair of ≤ n·8·LshBlk/2 candidates, n = vectors
    FixtureCache.checkpointed(spark, sfDir, "v08_pairs")(
      lshNearDupUncached(spark, sfDir))

  def lshNearDup(spark: SparkSession, sfDir: String): DataFrame =
    // the total order is applied OUTSIDE the checkpoint: an eager
    // checkpoint of a sorted plan pays the range-partitioner's sampling
    // pass over the expensive join on top of the sort itself, and v10
    // doesn't need the order — sorting the tiny checkpointed pair set
    // costs nothing
    lshPairs(spark, sfDir).orderBy("d1", "d2")

  /** One codegen'd pass → 8 long band codes per vector (the v08 LSH
    * index rows). Shared by the batch near-dup (v08/v10) and the s47
    * streaming ingest face so the two index definitions cannot
    * drift. */
  private[graft] def bandCodes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    embDouble(spark, sfDir)
      .select($"vec_id",
        posexplode(lshBands($"v")).as(Seq("band", "code")))
  }

  /** v08/v10 bucket sub-block size — see [[lshNearDup]]'s cap note. */
  private[graft] val LshBlk = 64L

  private def lshNearDupUncached(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the self-join key is a primitive (band, code, blk) triple; the
    // rank window's exchange is 8n (band, code) rows — linear.
    // The VECTORS ride the band table through that one exchange
    // (8n × ~550 B), and the cosine is computed ON THE JOIN OUTPUT
    // ITERATOR — project + filter pipelined inside the join stage —
    // so the candidate-pair stream (which saturated sub-blocks make
    // ~n·L·LshBlk/2 rows at 100×) is never materialized or shuffled.
    // The previous shape shuffled the embedding table onto the
    // DISTINCT pair list twice (~50 GB at the 100× probe: 643 s cold
    // and an OOM-marginal heap); only the ~|output| survivors reach
    // the distinct here.
    val bands = embDouble(spark, sfDir)
      .select($"vec_id", $"v",
        posexplode(lshBands($"v")).as(Seq("band", "code")))
      .withColumn("blk", Det.fdiv(
        row_number().over(Window.partitionBy($"band", $"code")
          .orderBy($"vec_id")).cast("long") - lit(1L), lit(LshBlk)))
    bands.as("a")
      .join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.code" === $"b.code" &&
          $"a.blk" === $"b.blk" && $"a.vec_id" < $"b.vec_id")
      .withColumn("cos", cosine($"a.v", $"b.v"))
      .filter($"cos" >= 0.4)
      .select($"a.vec_id".as("d1"), $"b.vec_id".as("d2"),
        round($"cos", 6).as("cos"))
      .distinct()
  }

  /** Semantic benchmark decontamination — d15's hygiene pass in
    * embedding space: flag training documents whose embedding is
    * near-identical (cosine) to any held-out evaluation document, the
    * paraphrase-leak check n-gram overlap can't see. Membership reuses
    * [[TextOps.withSampleSplit]]'s deterministic md5 split (train vs
    * test), embeddings join 1:1 on doc_id = vec_id.
    *
    * Scale design: same asymmetry as d15 — the held-out side is a
    * FIXED benchmark corpus (bounded), so it broadcasts; the training
    * corpus streams through one codegen'd cosine pass map-side and is
    * reduced by a partial-agg argmax (max over (cos, −eval_id) structs),
    * never a window over the scored pairs — the corpus is never
    * shuffled, only per-doc partials are. The bounded-benchmark
    * contract is EXPLICIT in the query (the v14 bounded-anchor
    * precedent, applied after the r13 full probe sweep measured 38.9×
    * at 100× where the probe scales the eval split WITH the corpus —
    * quadratic by probe construction, not by contract): the held-out
    * side is capped at [[EvalCap]] eval docs (deterministic smallest
    * eval_id subset, mirrored in the oracle). The cap never binds at
    * any fixture SF (test split ≤ ~200 docs at sf0.1), so fixture
    * results are unchanged; at 100× it bounds the broadcast side the
    * way a real benchmark is bounded, restoring the linear slope
    * (re-probed after the cap — SURVEY §6 r13 probe table). */
  /** d32's bounded-benchmark contract made executable: the held-out
    * eval side is capped at this many docs (smallest eval_id first —
    * deterministic). Far above every fixture's test split, so the cap
    * only binds where an unbounded probe-side eval split would make
    * the broadcast quadratic in corpus size. */
  private[graft] val EvalCap = 500

  /** The DECLARED (benchmark) variant — capped at [[EvalCap]]. */
  def semanticDecontaminate(spark: SparkSession, sfDir: String): DataFrame =
    semanticDecontaminate(spark, sfDir, Some(EvalCap))

  /** Library face: `evalCap = None` (the DEFAULT for direct callers)
    * decontaminates against the ENTIRE held-out split — the full
    * operator semantics; the cap is a benchmark-declared bound, not
    * the operator's meaning (the r13 ADVICE point: at any scale where
    * the test split exceeds the cap, a capped run silently skips
    * matches to the uncapped remainder — callers must opt IN to that
    * trade, knowing their benchmark side is genuinely bounded).
    * Capped and uncapped forms agree wherever the split fits the cap
    * (every fixture SF) — pinned in GraftSpec. */
  def semanticDecontaminate(spark: SparkSession, sfDir: String,
      evalCap: Option[Int]): DataFrame = {
    import spark.implicits._
    val e = embDouble(spark, sfDir)
    val split = TextOps.withSampleSplit(Tables.documents(spark, sfDir))
      .select($"doc_id", $"split")
    val withSplit = e.join(split, e("vec_id") === split("doc_id"))
    val train = withSplit.filter($"split" === "train")
      .select($"vec_id".as("t_id"), $"v")
    val hoAll = withSplit.filter($"split" === "test")
      .select($"vec_id".as("eval_id"), $"v".as("hv"))
    val ho = evalCap.fold(hoAll)(c => hoAll.orderBy($"eval_id").limit(c))
    train.crossJoin(broadcast(ho))
      .select($"t_id",
        struct(round(cosine($"v", $"hv"), 6).as("cos"),
          (-$"eval_id").as("neg_eval")).as("sc"))
      .groupBy($"t_id").agg(max($"sc").as("m"))
      .select($"t_id".as("doc_id"),
        (-$"m.neg_eval").as("nearest_eval"),
        $"m.cos".as("max_cos"),
        when($"m.cos" >= 0.9, 1L).otherwise(0L).as("contaminated"))
      .orderBy($"doc_id")
  }

  /** ANN via sign-LSH: bucket every vector by the sign pattern of its
    * first 4 dims, then search only the query's bucket (cosine top-10).
    * At scale the bucket join replaces the quadratic all-pairs scan. */
  def annSignLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bucketExpr = expr(
      """array_join(transform(slice(v, 1, 4),
        x -> case when x >= 0D then '1' else '0' end), '')""")
    val e = embDouble(spark, sfDir).withColumn("bucket", bucketExpr)
    val q = e.filter($"vec_id" === 0)
      .select($"bucket".as("q_bucket"), $"v".as("qv"))
    e.filter($"vec_id" =!= 0)
      .join(broadcast(q), $"bucket" === $"q_bucket")
      .select($"vec_id", $"bucket",
        round(cosine($"v", $"qv"), 6).as("cos"))
      .orderBy(desc("cos"), $"vec_id")
      .limit(10)
  }

  /** The v07 coarse quantizer: per-label mean centroids,
    * (c_label, cv) — ONE definition shared by the batch probe (v07)
    * and the streaming cell assignment (s34) so the index cannot
    * drift between them. */
  private def labelCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    embDouble(spark, sfDir)
      .select($"label".as("c_label"), posexplode($"v").as(Seq("pos", "x")))
      .groupBy($"c_label", $"pos")
      .agg(avg($"x").as("c"))
      .groupBy($"c_label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .as("cv"))
  }

  /** The coarse-quantizer model COLLECTED for broadcast into a
    * streaming plan: k×64 doubles (bounded — never the data table),
    * 6-dp rounded per the v09 Lloyd determinism contract so both
    * engines score incoming vectors against bit-identical values
    * (raw engine-side averages differ in the last ulp, which a
    * round(·, 6) OUTPUT could straddle; rounded-model cosines are
    * bit-identical by construction). */
  private[graft] def labelCentroidsRounded(spark: SparkSession,
      sfDir: String): Seq[(Int, Array[Double])] =
    labelCentroids(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).map(round6).toArray)
      .sortBy(_._1).toIndexedSeq

  /** IVF-style ANN: vectors are assigned to coarse cells (nearest
    * label-centroid); the query probes its 2 nearest cells and ranks
    * only those cells' members — the inverted-file pattern that bounds
    * search cost at 100 TB (cells ≈ k-means lists; here the label
    * centroids stand in for trained coarse quantizers). */
  def ivfAnn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (assigned, q, qCells) = ivfIndex(spark, sfDir)
    assigned
      .join(broadcast(qCells), $"cell" === $"probe_cell")
      .filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"cell",
        round(cosine($"v", $"qv"), 6).as("cos"))
      .orderBy(desc("cos"), $"vec_id")
      .limit(10)
  }

  /** The v07 inverted file as data: (assigned(vec_id, v, cell),
    * q(qv), qCells(probe_cell)) — ONE definition shared by the plain
    * IVF probe (v07, and v18's recall gate through it) and the
    * composed IVF-PQ probe (v22), so cell assignment and probe
    * selection cannot drift between the two indexes. */
  private[graft] def ivfIndex(spark: SparkSession, sfDir: String):
      (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val e = embDouble(spark, sfDir)
    val cent = labelCentroids(spark, sfDir)
    val wAssign = Window.partitionBy($"vec_id").orderBy(desc("cos"), $"c_label")
    // the assignment IS the index — a materialized artifact by design
    // ("build once, probe many"): session-cache it so every probe-side
    // consumer (v07/v22/v23/v25/v26/v28/v30, s34's batch face) reads
    // one materialization instead of re-deriving the corpus×centroid
    // argmax per query
    // bound: one (vec_id, v, cell) row per embedding
    val assigned = FixtureCache.checkpointed(spark, sfDir, "ivf_assigned") {
      e.crossJoin(broadcast(cent))
        .withColumn("cos", cosine($"v", $"cv"))
        .withColumn("rn", row_number().over(wAssign))
        .filter($"rn" === 1)
        .select($"vec_id", $"v", $"c_label".as("cell"))
    }
    val q = assigned.filter($"vec_id" === 0)
      .select($"v".as("qv"))
    // the query's 2 nearest cells
    val qCells = cent.crossJoin(broadcast(q))
      .withColumn("qcos", cosine($"cv", $"qv"))
      .orderBy(desc("qcos"), $"c_label")
      .limit(2)
      .select($"c_label".as("probe_cell"))
    (assigned, q, qCells)
  }

  /** v18: ANN recall evaluation — the index-quality gate every
    * similarity pipeline needs before trusting an approximate index:
    * recall@k of the IVF probe ([[ivfAnn]], 2-of-k cells) against the
    * brute-force exact ranking ([[cosineTopK]]'s contract), for
    * k ∈ {1, 5, 10}. Output is (k, n_hit, recall) — the curve a
    * deployment reads to size nprobe.
    *
    * Scale: both inputs are top-10 lists — everything after them is
    * constant-size; the expensive parts are the operators under
    * evaluation, which keep their own scale contracts. Ranks use the
    * shared round(cos, 6) + vec_id tiebreak, so both engines agree on
    * the lists and therefore on the recall. */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ivf = ivfAnn(spark, sfDir)
      .withColumn("ivf_rank",
        row_number().over(Window.orderBy(desc("cos"), $"vec_id")))
      .select($"vec_id", $"ivf_rank")
    val exact = cosineTopK(spark, sfDir)
      .withColumn("ex_rank",
        row_number().over(Window.orderBy(desc("cos"), $"vec_id")))
      .filter($"ex_rank" <= 10)
      .select($"vec_id", $"ex_rank")
    val ks = Seq(1L, 5L, 10L).toDF("k")
    ks.join(exact, $"ex_rank" <= $"k")
      .join(ivf, Seq("vec_id"), "left")
      .groupBy($"k")
      .agg(sum(when($"ivf_rank" <= $"k", 1L).otherwise(0L)).as("n_hit"))
      .select($"k", $"n_hit",
        graft.functions.Det.r4($"n_hit", $"k").as("recall"))
      .orderBy($"k")
  }

  // v09 k-means parameters: k seed vectors (vec_id 0..k-1), fixed Lloyd
  // iteration count. Deterministic by construction: centroids are rounded
  // to 6 decimals after every update so both engines iterate from
  // IDENTICAL values (raw double averages differ in the last ulp between
  // engines, which could flip a near-tie assignment), and the argmin
  // tiebreak is the cluster id.
  private val KmK = 4
  private val KmIters = 3

  /** Distributed k-means (Lloyd): per iteration, ASSIGN each vector to
    * the nearest centroid — centroids ride along as literal arrays, so
    * the scan is shuffle-free map work through the codegen'd
    * `graft_dot` — then UPDATE centroids with one per-(cluster, dim)
    * map-side-combined average. Only k×dim doubles ever reach the
    * driver (the broadcast-per-iteration k-means pattern); the data
    * table is never collected. This is the training half of the IVF
    * index whose probe half is v07. Argmin uses
    * dist² − ‖v‖² = ‖c‖² − 2·v·c (the per-vector ‖v‖² term can't change
    * the argmin, so it is never computed). */
  /** The Lloyd loop shared by v09 (centroid report) and v19
    * (silhouette): returns the final assignment frame and the final
    * 6-dp-rounded centroids, held per session in [[FixtureCache]] so
    * the two queries train once. */
  private def kmeansCore(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[(Long, Array[Double])]) =
    // bound: KmK centroids of dim doubles; the assignment frame is an unmaterialized plan
    FixtureCache.perSession(spark, sfDir, "kmeans")(kmeansTrain(spark, sfDir))

  private def kmeansTrain(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[(Long, Array[Double])]) = {
    import spark.implicits._
    val e = embDouble(spark, sfDir).select($"vec_id", $"v")
    // seeds: the first k vectors, rounded like every later centroid
    var cents: Seq[(Long, Array[Double])] = e.filter($"vec_id" < KmK)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(round6).toArray).sortBy(_._1).toIndexedSeq
    var assigned: DataFrame = null
    for (_ <- 1 to KmIters) {
      val distCols = cents.map { case (cl, c) =>
        val cc = c.map(x => x * x).sum
        struct((lit(cc) - lit(2.0) * dot($"v", typedlit(c))).as("d"),
          lit(cl).as("cl"))
      }
      assigned = e
        .withColumn("m", array_min(array(distCols: _*)))
        .select($"vec_id", $"v", $"m.cl".as("cl"))
      cents = assigned
        .select($"cl", posexplode($"v").as(Seq("pos", "x")))
        .groupBy($"cl", $"pos")
        .agg(avg($"x").as("c"))
        .groupBy($"cl")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
          .as("cv"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[Double](1).map(round6).toArray).sortBy(_._1).toIndexedSeq
    }
    (assigned, cents)
  }

  def kmeans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (assigned, cents) = kmeansCore(spark, sfDir)
    val n = assigned.groupBy($"cl").agg(count(lit(1)).as("n"))
    val centRows = cents.flatMap { case (cl, c) =>
      c.zipWithIndex.map { case (x, pos) => (cl, pos.toLong, x) }
    }.toDF("cluster", "pos", "c")
    centRows.join(n.select($"cl".as("cluster"), $"n"), "cluster")
      .select($"cluster", $"pos", $"c", $"n")
      .orderBy($"cluster", $"pos")
  }

  /** v19: per-cluster simplified silhouette for the v09 k-means run —
    * the cluster-quality score that tells a curation pipeline whether
    * its embedding clusters are real structure or noise: s(i) =
    * (b−a)/max(a,b) with a = distance to the OWN centroid and b =
    * distance to the nearest OTHER centroid (the classic centroid
    * approximation — the exact pairwise silhouette is quadratic and
    * adds nothing at corpus scale).
    *
    * Determinism: centroid distances are rounded to 6 dp (the
    * house-wide graft_dot ≡ list_dot_product agreement contract), each
    * s(i) is then rounded to an integer 10⁻⁴ unit, and the per-cluster
    * mean is the exact rational [[graft.functions.Det.r4]] over the
    * unit sums — negative sums floor identically in both engines via
    * Det.sql.r4 (the d33 lesson).
    *
    * Scale design: one shuffle-free codegen pass over the corpus (the
    * k distances ride as literal structs, argmin/array_min in place —
    * same shape as the v09 assign step) followed by one k-row hash-agg;
    * the corpus is never shuffled at all. */
  def silhouette(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (assigned, cents) = kmeansCore(spark, sfDir)
    val dCols = cents.map { case (cl, c) =>
      val cc = c.map(x => x * x).sum
      struct(round(sqrt(greatest(
        lit(cc) - lit(2.0) * dot($"v", typedlit(c)) + dot($"v", $"v"),
        lit(0.0))), 6).as("d"),
        lit(cl).as("cl"))
    }
    assigned
      .withColumn("ds", array(dCols: _*))
      .withColumn("a", expr("filter(ds, x -> x.cl = cl)[0].d"))
      .withColumn("b", expr("array_min(transform(filter(ds, x -> x.cl != cl), x -> x.d))"))
      .withColumn("su", when(greatest($"a", $"b") === 0.0, lit(0L))
        .otherwise(round(($"b" - $"a") / greatest($"a", $"b") * 10000)
          .cast("long")))
      .groupBy($"cl")
      .agg(count(lit(1)).as("n"), sum($"su").as("sus"))
      .select($"cl".as("cluster"), $"n",
        graft.functions.Det.r4($"sus", $"n" * 10000L).as("silhouette"))
      .orderBy($"cluster")
  }

  /** The v09 Lloyd iterations unrolled as CTEs (e, c0, a1..c{KmIters}),
    * mirroring the Spark loop exactly: a_i assigns with c_{i-1}; c_i =
    * per-dim means of a_i, rounded 6. Shared verbatim by the v09 and
    * v19 oracles so the training chain cannot drift between them. */
  private def lloydCtes: String = {
    val assign = (prev: String, out: String) =>
      s"""$out AS (SELECT vec_id, v, cl FROM (SELECT e.vec_id, e.v, c.cl,
         |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.v, c.cv), c.cl) AS rn
         |  FROM e CROSS JOIN $prev c) t WHERE rn = 1)""".stripMargin
    val update = (prev: String, out: String) =>
      s"""$out AS (SELECT cl, list(round(c, 6) ORDER BY i) AS cv FROM
         |  (SELECT cl, i, avg(v[i]) AS c FROM $prev
         |   CROSS JOIN generate_series(1, 64) t(i) GROUP BY cl, i) s
         |  GROUP BY cl)""".stripMargin
    val iters = (1 to KmIters).map(i =>
      assign(s"c${i - 1}", s"a$i") + ",\n" + update(s"a$i", s"c$i"))
      .mkString(",\n")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cl, [round(x, 6) for x in v] AS cv
       |  FROM e WHERE vec_id < $KmK),
       |$iters""".stripMargin
  }

  // v13 product-quantization parameters: 4 subspaces × 16 dims, 4
  // codewords per subspace, 2 Lloyd iterations per sub-codebook — same
  // determinism recipe as v09 (centroids rounded to 6 dp each update,
  // argmin tiebreak by codeword id).
  private val PqS = 4
  private val PqD = 16
  private val PqK = 4
  private val PqIters = 2

  /** Product-quantization ANN (the remaining classic next to sign-LSH
    * v05, IVF v07, and int8-SQ v12): each vector's 64 dims split into
    * [[PqS]] subspaces, each subspace k-means-quantized to [[PqK]]
    * codewords, so a vector compresses to PqS small codes (here 4×2
    * bits; production uses 8–16×8 bits). The query never touches raw
    * vectors at scan time — it precomputes an ADC (asymmetric distance
    * computation) table of per-subspace distances to every codeword,
    * and each row's approximate distance is PqS table lookups + adds.
    *
    * Scale design: sub-codebook training is the v09 broadcast-iteration
    * Lloyd run on PqD-dim slices (one long-format pass per iteration —
    * all subspaces train in the SAME job; only S·K·D doubles reach the
    * driver); encoding is one shuffle-free codegen pass; the ADC scan
    * reads only the code columns (4 longs/row instead of 64 doubles —
    * the compression that keeps a 100 TB corpus scannable) and the ADC
    * table rides along as an S·K-entry literal. Codes and distances are
    * argmin/lookup arithmetic on 6-dp-rounded centroids, so both
    * engines rank identically (ties broken by vec_id; the abundant
    * equal-code ties are exact equalities, not float hazards). */
  def pqAnn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embDouble(spark, sfDir).select($"vec_id", $"v")
    val cents = pqModel(spark, sfDir)
    val coded = pqEncode(e, cents)
    coded.filter($"vec_id" =!= 0)
      .select($"vec_id", $"c0", $"c1", $"c2", $"c3",
        round(pqAdc(spark, sfDir, cents), 6).as("adist"))
      .orderBy($"adist", $"vec_id")
      .limit(10)
  }

  /** PQ sub-codebook training — the v13 model, factored out so the
    * composed IVF-PQ index (v22) trains the SAME codebooks, and held
    * per session in [[FixtureCache]] so they train once. Returns
    * (subspace, codeword) → 6-dp-rounded centroid slice. */
  private def pqModel(spark: SparkSession,
      sfDir: String): Map[(Int, Long), Array[Double]] =
    // bound: PqS·PqK centroid slices of PqD doubles
    FixtureCache.perSession(spark, sfDir, "pq")(pqTrain(spark, sfDir))

  private def pqTrain(spark: SparkSession,
      sfDir: String): Map[(Int, Long), Array[Double]] = {
    import spark.implicits._
    val e = embDouble(spark, sfDir).select($"vec_id", $"v")
    // one row per (vec_id, subspace): the shared training frame
    val subCols = (0 until PqS).map(s =>
      struct(lit(s).as("s"), slice($"v", s * PqD + 1, PqD).as("vs")))
    val es = e.select($"vec_id", explode(array(subCols: _*)).as("sub"))
      .select($"vec_id", $"sub.s".as("s"), $"sub.vs".as("vs"))
      .localCheckpoint()
    // seeds: the first PqK vectors' slices, rounded like later updates
    var cents: Map[(Int, Long), Array[Double]] =
      es.filter($"vec_id" < PqK).collect().map { r =>
        (r.getInt(1), r.getLong(0)) ->
          r.getSeq[Double](2).map(round6).toArray
      }.toMap
    def assignCol(cs: Map[(Int, Long), Array[Double]]): Column =
      (1 until PqS).foldLeft(when($"s" === 0, pqArgmin($"vs", cs, 0))) {
        (acc, s) => acc.when($"s" === s, pqArgmin($"vs", cs, s))
      }
    for (_ <- 1 to PqIters) {
      cents = es.withColumn("cl", assignCol(cents))
        .select($"s", $"cl", posexplode($"vs").as(Seq("pos", "x")))
        .groupBy($"s", $"cl", $"pos").agg(avg($"x").as("c"))
        .groupBy($"s", $"cl")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), t -> t.c)")
          .as("cv"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) ->
          r.getSeq[Double](2).map(round6).toArray).toMap
    }
    cents
  }

  /** argmin codeword for one subspace slice — each subspace's codebook
    * is its own literal set. dist² − ‖vs‖² = ‖c‖² − 2·vs·c as in v09.
    * A codeword that loses all members drops out of the map in BOTH
    * engines (the oracle's update CTE loses the row), keeping the
    * iterations aligned. */
  private def pqArgmin(vs: Column, cs: Map[(Int, Long), Array[Double]],
      s: Int): Column = {
    val structs = cs.keys.filter(_._1 == s).map(_._2).toSeq.sorted.map { cl =>
      val c = cs((s, cl))
      val cc = c.map(x => x * x).sum
      struct((lit(cc) - lit(2.0) * dot(vs, typedlit(c.toSeq))).as("d"),
        lit(cl).as("cl"))
    }
    array_min(array(structs: _*)).getField("cl")
  }

  /** Encode wide (one code column per subspace) so the ADC sum adds in
    * a FIXED left-to-right order — a groupBy-sum over a long format
    * would re-associate float adds nondeterministically. Keeps every
    * non-code input column. */
  private def pqEncode(e: DataFrame,
      cents: Map[(Int, Long), Array[Double]]): DataFrame =
    e.select(e.columns.filter(_ != "v").map(col) ++
      (0 until PqS).map(s =>
        pqArgmin(slice(col("v"), s * PqD + 1, PqD), cents, s).as(s"c$s")): _*)

  /** The ADC distance column over c0..c3: per (subspace, codeword)
    * distance contribution to the query (vec_id 0); ‖q_s‖² is constant
    * per subspace and dropped. */
  private def pqAdc(spark: SparkSession, sfDir: String,
      cents: Map[(Int, Long), Array[Double]]): Column = {
    import spark.implicits._
    val q = embDouble(spark, sfDir).select($"vec_id", $"v")
      .filter($"vec_id" === 0).select($"v").collect()(0)
      .getSeq[Double](0).toArray
    val flatT = (0 until PqS).flatMap { s =>
      val qs = q.slice(s * PqD, s * PqD + PqD)
      (0L until PqK.toLong).map { cl =>
        cents.get((s, cl)).map(c => dotSeq(c, c) - 2.0 * dotSeq(qs, c))
          .getOrElse(Double.MaxValue)
      }
    }
    val tLit = typedlit(flatT)
    (0 until PqS).map(s =>
      element_at(tLit, (lit(s * PqK) + col(s"c$s") + 1).cast("int")))
      .reduceLeft(_ + _)
  }

  /** v22: IVF-PQ — the composed production ANN shape (the FAISS
    * IndexIVFPQ configuration with by_residual=false): the v07 coarse
    * quantizer bounds WHICH rows are scanned (the query's 2 nearest
    * cells), and the v13 product quantizer bounds WHAT the scan reads
    * (4 code columns instead of 64 doubles). Both components are the
    * shared definitions ([[ivfIndex]], [[pqModel]]) — index text
    * cannot drift between v07/v13/v22 on either engine.
    *
    * Scale design: candidate set = probed cells only (the IVF
    * contract), ranked by ADC table lookups over codes only (the PQ
    * contract); at 100 TB the scan cost is (probed fraction) ×
    * (codes-only row width) — multiplicative savings, which is why
    * every production vector store composes exactly these two. */
  def ivfPqAnn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cents = pqModel(spark, sfDir)
    val (assigned, _, qCells) = ivfIndex(spark, sfDir)
    val cand = assigned
      .join(broadcast(qCells), $"cell" === $"probe_cell")
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"cell", $"v")
    pqEncode(cand, cents)
      .select($"vec_id", $"cell", $"c0", $"c1", $"c2", $"c3",
        round(pqAdc(spark, sfDir, cents), 6).as("adist"))
      .orderBy($"adist", $"vec_id")
      .limit(10)
  }

  /** Per-vector stats: dimension, L2 norm, mean/min/max component. */
  def vectorStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    embDouble(spark, sfDir)
      .select($"vec_id",
        size($"v").cast("long").as("dim"),
        round(norm($"v"), 6).as("norm"),
        round(expr("aggregate(v, 0D, (s, x) -> s + x)") / size($"v"), 6)
          .as("mean"),
        round(array_min($"v"), 6).as("mn"),
        round(array_max($"v"), 6).as("mx"))
      .orderBy($"vec_id")
  }

  /** Embedding-level duplicate clusters: connected components over the
    * v08 LSH near-dup pair graph — the embedding analogue of d12
    * (see [[Graph.connectedComponents]] for the min-label-propagation
    * scale design). Cluster id = min vec_id in the component. */
  def embedDupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Graph.connectedComponents(lshPairs(spark, sfDir).select($"d1", $"d2"))
      .select($"id".as("vec_id"), $"cluster_id")
      .orderBy($"vec_id")
  }

  /** v15: semantic dedup (the SemDeDup shape — Abbas et al. 2023):
    * cluster the corpus, then find near-identical pairs ONLY within a
    * cluster block and drop each pair's higher id. Clustering is one
    * deterministic nearest-seed assignment (seeds = the first
    * [[semK]] vectors, the same (distance, cluster) argmin tie-break
    * as v09's Lloyd step); within each block, pairs with cosine ≥
    * [[SemTau]] mark the higher vec_id as a duplicate of the lower.
    * Output: one row per dropped vector with its lowest-id keeper and
    * strongest cosine.
    *
    * Scale design (REPLANNED r14 — the r13 probe measured the previous
    * fixed k=8 at 562×: block size grew linearly with the corpus, so
    * the within-block pair search was quadratic at any fixed k; the
    * fix is the scaladoc's own production recipe, made executable):
    *
    *   - k = ⌈√n⌉ ([[semK]]) — clusters GROW with the corpus, so the
    *     expected block is √n and total pair work is O(n^1.5), never
    *     the fixed-k O(n²/k). Seeds broadcast (√n rows: ~450 at the
    *     100× probe, ~10⁵ at 10¹⁰ vectors — still broadcastable).
    *   - every block is HARD-CAPPED at [[SemB]] rows by deterministic
    *     rank salting: within a cluster, rows pair only inside their
    *     ⌊rank/SemB⌋ sub-block (rank = row_number by vec_id — the
    *     contract is explicit and oracle-mirrored, the LSH-banding
    *     trade: a skewed mega-cluster costs ≤ SemB·rows instead of
    *     rows², and pairs across sub-blocks of an over-cap cluster
    *     are by-contract unseen). The cap never binds below ~SemB·k
    *     corpus rows (every fixture SF and the balanced 100× blocks).
    *
    * Plan: assignment is a broadcast nested-loop over the seed set
    * reduced by a map-side-combined min(struct(d, cl, v)) — shuffle
    * volume is n rows, not n·k; the rank window and the pair join
    * share the cluster-key exchange. Nothing scales with n² anywhere:
    * assignment n·√n map-side, pairs ≤ n·SemB/2. */
  private[graft] def semK(n: Long): Long =
    math.ceil(math.sqrt(n.toDouble)).toLong
  private val SemB = 512
  private val SemTau = 0.4
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embDouble(spark, sfDir).select($"vec_id", $"v")
    // corpus count → k: a metadata-cheap scalar (the parquet row-count
    // short circuit), the same derive-from-stats class as e18's fence
    val k = semK(e.count())
    val seeds = e.filter($"vec_id" < k)
      .select($"vec_id".as("cl"), $"v".as("cv"))
    val assigned = e.crossJoin(broadcast(seeds))
      .select($"vec_id", struct(
        (dot($"cv", $"cv") - lit(2.0) * dot($"v", $"cv")).as("d"),
        $"cl", $"v").as("s"))
      .groupBy($"vec_id").agg(min($"s").as("m"))
      .select($"vec_id", $"m.v".as("v"), $"m.cl".as("cl"))
    val blocked = assigned
      .withColumn("blk", Det.fdiv(row_number().over(
        Window.partitionBy($"cl").orderBy($"vec_id")) - lit(1L),
        lit(SemB.toLong)))
    blocked.as("a").join(blocked.as("b"),
        $"a.cl" === $"b.cl" && $"a.blk" === $"b.blk" &&
          $"a.vec_id" < $"b.vec_id")
      .withColumn("cos", cosine($"a.v", $"b.v"))
      .filter($"cos" >= SemTau)
      .select($"a.cl".as("cluster"), $"a.vec_id".as("keep_id"),
        $"b.vec_id".as("drop_id"), $"cos")
      .groupBy($"cluster", $"drop_id")
      .agg(min($"keep_id").as("kept_id"), round(max($"cos"), 6).as("max_cos"))
      .orderBy($"cluster", $"drop_id")
  }

  /** v16: MMR-diversified retrieval (Maximal Marginal Relevance,
    * Carbonell & Goldstein '98) — the diversity-aware selection a
    * training-data pipeline uses where plain top-k returns
    * near-duplicates of one passage: greedily pick 8 of the top-30
    * candidates, each step maximizing
    * `λ·relevance − (1−λ)·max-similarity-to-already-selected` (λ=½,
    * equivalent under argmax to `rel − maxsim` in integer micro-units).
    *
    * Scale design: the distributed parts are exactly the unbounded
    * ones — candidate generation is v01's broadcast-query codegen'd
    * cosine scan over the full corpus, and the 30×30 candidate
    * similarity matrix is a broadcast-fed join of a LIMIT-bounded set.
    * The greedy loop itself is O(k·C) = 240 integer comparisons on
    * driver-collected micro-unit scores — the same bounded-collect
    * class as the k-means centroid pull; it never touches
    * non-candidate data.
    *
    * Determinism: relevance and pair similarities are rounded ONCE
    * from the raw cosine to integer micro-units; every later
    * comparison (including ties → smaller vec_id) is integer, so both
    * engines select identical sets. The oracle unrolls the 8 greedy
    * steps as CTEs. */
  def mmrDiversify(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embDouble(spark, sfDir)
    val q = e.filter($"vec_id" === 0).select($"v".as("qv"))
    val cand = e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"v",
        round(cosine($"v", $"qv") * lit(1e6)).cast("long").as("rel"))
      .orderBy(desc("rel"), $"vec_id")
      .limit(30)
      .localCheckpoint()
    val sims = cand.select($"vec_id".as("a_id"), $"v".as("av"))
      .crossJoin(broadcast(cand.select($"vec_id".as("b_id"), $"v".as("bv"))))
      .filter($"a_id" =!= $"b_id")
      .select($"a_id", $"b_id",
        round(cosine($"av", $"bv") * lit(1e6)).cast("long").as("sim"))
    val rels = cand.select($"vec_id", $"rel").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val simMap = sims.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)] // rank, id, rel, maxsim, score
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (rank <- 1L to 8L) {
      val best = rels.keysIterator
        .filterNot(selected.contains)
        .map { id =>
          val ms = if (selected.isEmpty) 0L
            else selected.map(s => simMap((id, s))).max
          (rels(id) - ms, id, ms)
        }
        .minBy { case (score, id, _) => (-score, id) }
      selected += best._2
      picks += ((rank, best._2, rels(best._2), best._3, best._1))
    }
    picks.toSeq
      .toDF("rank", "vec_id", "rel_micro", "maxsim_micro", "score_micro")
      .orderBy($"rank")
  }

  /** v17: retrieve-then-expand — the RAG-shaped two-stage pipeline:
    * BM25 picks the best keyword match for the query term 'spark'
    * among docs that HAVE an embedding (the lexical seed), then the
    * seed's embedding pulls its 10 nearest corpus neighbors by cosine
    * (the semantic expansion that surfaces relevant docs sharing no
    * keyword). Composes d28's scoring ([[graft.operators.TextOps
    * .bm25Scored]] — shared code, zero drift) with v01's broadcast
    * cosine scan.
    *
    * Scale design: stage 1 is posting-list-sized (only 'spark'
    * postings survive, semi-joined against embedding keys, one
    * TakeOrdered for the seed); stage 2 broadcasts the single seed
    * vector and streams the corpus through one codegen'd cosine pass
    * into TakeOrderedAndProject — neither stage shuffles the corpus. */
  def searchExpand(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embDouble(spark, sfDir)
    val seed = graft.operators.TextOps.bm25Scored(spark, sfDir)
      .filter($"term" === "spark")
      .join(e.select($"vec_id".as("doc_id")), "doc_id")
      .orderBy(desc("score"), $"doc_id")
      .limit(1)
      .select($"doc_id".as("seed_id"), $"score".as("seed_score"))
    val seedVec = seed
      .join(e.select($"vec_id".as("seed_id"), $"v".as("sv")), "seed_id")
    e.crossJoin(broadcast(seedVec))
      .filter($"vec_id" =!= $"seed_id")
      .select($"seed_id", $"seed_score", $"vec_id".as("neighbor_id"),
        round(cosine($"v", $"sv"), 6).as("cos"))
      .orderBy(desc("cos"), $"neighbor_id")
      .limit(10)
  }

  /** Truncation width for v21 — the matryoshka prefix evaluated
    * against the full-dimension ranking. */
  private[graft] val TruncDim = 16

  /** v21: truncated-dimension retrieval recall — the matryoshka /
    * MRL evaluation a training pipeline runs before shipping shortened
    * embeddings: how much of the exact full-64-dim top-10 does a
    * first-[[TruncDim]]-dims cosine ranking recover at k = 1/5/10?
    * The v18 recall harness with the candidate generator swapped from
    * the IVF index to prefix truncation — the two share ranking and
    * tiebreak conventions, so their recalls are directly comparable.
    *
    * Scale: both rankings broadcast the query vector and stream the
    * corpus through one codegen'd cosine pass; the truncated pass reads
    * 4× less vector data — exactly the economics truncation buys at
    * 100 TB, measured here against its recall cost. */
  def truncatedRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embDouble(spark, sfDir)
      .withColumn("vt", expr(s"slice(v, 1, $TruncDim)"))
    val qt = e.filter($"vec_id" === 0).select($"vt".as("qvt"))
    // TakeOrdered the truncated top-10 FIRST (per-partition heap +
    // driver merge, the cosineTopK pattern), then rank the 10 survivors
    // — recall@k≤10 never consults a deeper rank, and a partition-less
    // row_number over the whole corpus would single-partition the sort
    val tr = e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(qt))
      .select($"vec_id",
        round(cosine($"vt", $"qvt"), 6).as("cos"))
      .orderBy(desc("cos"), $"vec_id")
      .limit(10)
      .withColumn("tr_rank",
        row_number().over(Window.orderBy(desc("cos"), $"vec_id")))
      .select($"vec_id", $"tr_rank")
    val exact = cosineTopK(spark, sfDir)
      .withColumn("ex_rank",
        row_number().over(Window.orderBy(desc("cos"), $"vec_id")))
      .filter($"ex_rank" <= 10)
      .select($"vec_id", $"ex_rank")
    val ks = Seq(1L, 5L, 10L).toDF("k")
    ks.join(exact, $"ex_rank" <= $"k")
      .join(tr, Seq("vec_id"), "left")
      .groupBy($"k")
      .agg(sum(when($"tr_rank" <= $"k", 1L).otherwise(0L)).as("n_hit"))
      .select($"k", $"n_hit",
        graft.functions.Det.r4($"n_hit", $"k").as("recall"))
      .orderBy($"k")
  }

  /** Power-iteration rounds for v20 — MUST match the oracle's unrolled
    * CTE chain ([[pcaIterCtes]]). */
  private[graft] val PcaIters = 8
  /** Embedding dimensionality (fixture contract, see FIXTURES.md). */
  private[graft] val PcaDim = 64

  /** v20: top principal component by deterministic integer power
    * iteration — the dimensionality-reduction step (whitening, energy
    * compaction before PQ, embedding-drift axes) the vector suite's
    * k-means/IVF/PQ ops presuppose. Two stages:
    *
    *  1. ONE distributed pass builds the exact integer second moments
    *     ([[graft.functions.GramAggregator]]: Σm, Σmᵀm, n over
    *     milli-quantized vectors; partial buffers merge map-side — at
    *     100 TB this shuffles one (d²+d)-long buffer per partition,
    *     never pair rows). The d×d result is a bounded scalar collect,
    *     constant in corpus size — the v09 centroid-collect contract.
    *  2. The centered matrix A = Σmm − µSᵀ − Sµᵀ + nµµᵀ (µ = half-up
    *     integer mean) is downscaled to |a| ≤ ~10⁹ and run through
    *     [[PcaIters]] power-iteration rounds, each renormalizing to
    *     max|v| = 10⁶ by floor division — O(d²) driver work,
    *     independent of data size. All arithmetic is arbitrary-
    *     precision integers mirroring DuckDB's HUGEINT widening, so
    *     the oracle's unrolled CTE chain reproduces every intermediate
    *     bit-for-bit; the all-ones start vector fixes the eigenvector
    *     sign deterministically.
    *
    * The declared contract is the deterministic [[PcaIters]]-round
    * iterate, not ε-convergence: the fixture embeddings are
    * near-isotropic (top eigenvalue gap ratio ≈ 0.93–0.99), where ANY
    * fixed-round power method is far from converged — a production run
    * picks the round count from the observed spectrum (each extra
    * round is one more tiny chained job; the corpus pass doesn't
    * repeat). */
  def pcaPower(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val g = Tables.embeddings(spark, sfDir)
      .select(expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))")
        .as("m"))
      .as[Array[Long]]
      .select(graft.functions.GramAggregator.toColumn)
      .head()
    val d = g.sums.length
    require(d == PcaDim, s"embedding dim $d != fixture contract $PcaDim")
    val n = BigInt(g.n)
    def fd(a: BigInt, b: BigInt): BigInt = (a - ((a % b + b) % b)) / b
    val s = g.sums.map(BigInt(_))
    val mu = s.map(x => fd(2 * x + n, 2 * n))
    val a0 = Array.tabulate(d, d) { (j, k) =>
      BigInt(g.gram(j * d + k)) - mu(j) * s(k) - mu(k) * s(j) + n * mu(j) * mu(k)
    }
    val div = a0.flatten.map(_.abs).max / BigInt(1000000000L) + 1
    val a = a0.map(_.map(fd(_, div)))
    var v = Array.fill(d)(BigInt(1000000))
    for (_ <- 1 to PcaIters) {
      val w = Array.tabulate(d)(j =>
        (0 until d).map(k => a(j)(k) * v(k)).sum)
      val mw = w.map(_.abs).max
      v = if (mw == 0) w else w.map(x => fd(x * 1000000, mw))
    }
    (0 until d).map(j => (j.toLong, mu(j).toLong, v(j).toLong))
      .toDF("dim_idx", "mu_milli", "loading_micro")
      .orderBy($"dim_idx")
  }

  /** v23's cosine radius — on the near-isotropic fixture embeddings
    * (pairwise cosines ≤ ~0.37) this yields a few-dozen-row answer;
    * a clustered corpus would use a tighter τ. */
  private val RangeTau = 0.2

  /** v23: cosine RANGE search (radius query) — the other similarity
    * contract next to top-k: ALL vectors with cos ≥ τ of the query,
    * however many there are. It is the primitive that threshold-dedup
    * and near-duplicate retrieval actually want (top-k truncates a
    * large duplicate set; range search returns it whole). IVF-bounded
    * like v07: only the query's 2 probe cells are scanned, so the
    * declared contract is "within probed cells" — the same recall
    * trade v07 declares, measured by v18's gate.
    *
    * Scale design: shares [[ivfIndex]] verbatim with v07/v22 (cell
    * assignment and probe selection cannot drift); the scan reads
    * probed cells only, the threshold is a codegen'd filter on the
    * rounded cosine (the round(·, 6) cross-engine contract), and —
    * unlike top-k — there is no global TakeOrdered bound, so the
    * output ordering exchange is the only post-scan cost. */
  def rangeSearch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (assigned, q, qCells) = ivfIndex(spark, sfDir)
    assigned
      .join(broadcast(qCells), $"cell" === $"probe_cell")
      .filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cos", round(cosine($"v", $"qv"), 6))
      .filter($"cos" >= RangeTau)
      .select($"vec_id", $"cell", $"cos")
      .orderBy(desc("cos"), $"vec_id")
  }

  /** v24: IVF cell-balance report — the index-health diagnostic next
    * to v18's recall gate (FAISS's "imbalance factor"): per coarse
    * cell, member count and share, plus the max/mean imbalance ratio
    * every row repeats (one report row per cell keeps the output
    * relational). A balanced inverted file probes ~n/k vectors per
    * cell; a skewed one makes nprobe cost unpredictable and is the
    * signal to retrain the quantizer or split hot cells — the ANN
    * equivalent of q26's join-skew profile.
    *
    * Scale design: rides the SHARED [[ivfIndex]] assignment (no drift
    * from v07/v22/v23); the count is one k-row hash-agg over the
    * assignment, the ratio a broadcast scalar join — nothing touches
    * vector payloads. */
  def ivfBalance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (assigned, _, _) = ivfIndex(spark, sfDir)
    val cells = assigned.groupBy($"cell")
      .agg(count(lit(1)).as("n_vectors"))
    val tot = cells.agg(sum($"n_vectors").as("total"),
      max($"n_vectors").as("max_n"), count(lit(1)).as("k"))
    cells.crossJoin(broadcast(tot))
      .select($"cell", $"n_vectors",
        graft.functions.Det.r4($"n_vectors", $"total").as("share"),
        graft.functions.Det.r4($"max_n" * $"k", $"total").as("imbalance"))
      .orderBy($"cell")
  }

  /** v25: metadata-FILTERED ANN — the retrieval shape every production
    * vector store is asked for ("nearest neighbors among docs matching
    * a predicate"): top-10 by cosine among probed candidates whose
    * companion document (vec_id = doc_id) has lang = 'en'. The filter
    * is applied as a PRE-filter — candidates are restricted BEFORE
    * scoring/ranking — not a post-filter of an unfiltered top-k, which
    * under-fills k whenever the predicate is selective (the classic
    * filtered-ANN bug; a post-filter of the v07 top-10 here would
    * return only its English subset). Known trade-off, stated: with a
    * fixed nprobe a highly selective predicate can still return fewer
    * than k rows — production stores widen nprobe adaptively; the
    * deterministic fixed-probe result is what's declared.
    *
    * Scale design: rides the SHARED [[ivfIndex]] (no second index
    * definition to drift); the predicate lives in a different table
    * (the metadata-store shape) and reaches the candidates as a
    * LEFT-SEMI hash join on vec_id — on a cluster with both sides
    * bucketed by id this is co-partitioned, and when the allowed set
    * is small it broadcasts; either way only probed-cell candidates
    * are ever scored, and only allowed ones ranked. */
  def filteredAnn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (assigned, q, qCells) = ivfIndex(spark, sfDir)
    val allowed = graft.Tables.documents(spark, sfDir)
      .filter($"lang" === "en")
      .select($"doc_id".as("vec_id"))
    assigned
      .join(broadcast(qCells), $"cell" === $"probe_cell")
      .filter($"vec_id" =!= 0)
      .join(allowed, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .select($"vec_id", $"cell",
        round(cosine($"v", $"qv"), 6).as("cos"))
      .orderBy(desc("cos"), $"vec_id")
      .limit(10)
  }

  /** v28's per-cell result cap and probe width. The cap×probe product
    * must exceed k=10 or the diversity rule starves the fill (4 cells
    * × 3 per cell = 12 candidates for a top-10). */
  private[graft] val DivCap = 3
  private[graft] val DivProbe = 4

  /** The query's `n` nearest coarse cells, ranked — the probe-selection
    * block shared by v26/v28/v30 (the ivfIndex factoring discipline:
    * one definition, so the cell ranking cannot drift between the
    * tuning curve, the capped probe, and the capstone). Returns
    * (probe_cell, cell_rank ≤ n); `q` is ivfIndex's 1-row query side. */
  private[graft] def probeCells(spark: SparkSession, sfDir: String, n: Int,
      q: DataFrame): DataFrame = {
    import spark.implicits._
    labelCentroids(spark, sfDir).crossJoin(broadcast(q))
      .withColumn("qcos", cosine($"cv", $"qv"))
      .withColumn("cell_rank",
        row_number().over(Window.orderBy(desc("qcos"), $"c_label")))
      .filter($"cell_rank" <= n)
      .select($"c_label".as("probe_cell"), $"cell_rank")
  }

  /** v28: DIVERSIFIED top-k — the cluster-capped variant of v07's
    * probe: the query's [[DivProbe]] nearest cells are searched (v26's
    * widened probe), at most [[DivCap]] results come from any one
    * cell, and the global top-10 by cosine is taken from the capped
    * set. Bucket-capping is the cheap deterministic diversity rule
    * retrieval layers reach for when MMR (v16's greedy re-rank) is too
    * serial — MMR's k steps each depend on the previous pick, while
    * the cap is ONE window over the probed candidates, fully parallel,
    * and guarantees representation from ≥ ⌈k/cap⌉ distinct cells
    * whenever that many probed cells have members.
    *
    * Scale design: rides the shared [[ivfIndex]] assignment (the
    * corpus-sized work); candidates are the probed cells' population,
    * never corpus²; the cap is one window partitioned BY CELL
    * (parallel over cells); the final top-10 is a TakeOrdered over the
    * capped set. */
  def diversifiedTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (assigned, q, _) = ivfIndex(spark, sfDir)
    val probes = probeCells(spark, sfDir, DivProbe, q)
      .select($"probe_cell")
    assigned
      .join(broadcast(probes), $"cell" === $"probe_cell")
      .filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"cell",
        round(cosine($"v", $"qv"), 6).as("cos"))
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy($"cell").orderBy(desc("cos"), $"vec_id"))
        .cast("long"))
      .filter($"cell_rank" <= DivCap)
      .orderBy(desc("cos"), $"vec_id")
      .limit(10)
      .select($"vec_id", $"cell", $"cell_rank", $"cos")
  }

  /** v30: the RETRIEVAL-SERVING CAPSTONE — the full RAG serving path
    * as ONE composed Catalyst plan, every stage an operator already
    * declared elsewhere in the suite (the d40 capstone discipline
    * applied to the retrieval side): (1) metadata PRE-filter
    * (lang = 'en', v25's filtered-search semantics — the allowed set
    * restricts candidates BEFORE ranking, never a post-filter), (2)
    * the widened [[DivProbe]]-cell IVF probe (v26/v28), (3) the
    * per-cell diversity cap ≤ [[DivCap]] (v28), (4) near-duplicate
    * suppression among the surviving candidates — a candidate drops
    * if its cosine to ANY higher-ranked candidate ≥ [[ServeTau]]
    * (v15's dominated-by-any convention — deterministic and one join;
    * the sequential-survivor variant needs recursion for no
    * fixture-visible difference). ServeTau = 0.25 is deliberately
    * stricter than v15's curation τ = 0.4: result-set dedup suppresses
    * merely-redundant answers, not just near-copies — and on this
    * fixture's near-isotropic embeddings it is the threshold that
    * actually FIRES (2/2/4 suppressed pairs at sf0.001/0.01/0.1, all
    * pair cosines ≥ 0.012 away from the boundary, so no cross-engine
    * ulp hazard), keeping stage 4 load-bearing under the oracle gate.
    * (5) final top-5. The oracle embeds every stage's SQL with the
    * same constants.
    *
    * Scale design: the corpus-sized work is the shared [[ivfIndex]]
    * assignment; the en-filter is a broadcast semi-join applied to
    * probed candidates; stages 3–5 operate on ≤ DivProbe·DivCap = 12
    * rows — bounded by CONFIG, not data — so the pairwise suppression
    * matrix is ≤ 66 pairs and the final windows rank ≤ 12 rows. */
  private[graft] val ServeTau = 0.25

  /** The 1-row query-vector frame (vec 0's raw doubles) — identical to
    * ivfIndex's `q` but buildable without touching the assignment, for
    * consumers (s48's serving read) that only probe. */
  private[graft] def queryVecDf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    embDouble(spark, sfDir).filter($"vec_id" === 0).select($"v".as("qv"))
  }

  def retrievalPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val (ranked, sup) = retrievalStages(spark, sfDir)
    import spark.implicits._
    ranked.join(sup, Seq("vec_id"), "left_anti")
      .orderBy($"r")
      .limit(5)
      .select($"vec_id", $"cell", $"cos")
  }

  /** v30's staged internals, exposed for RetrievalPipelineSpec so the
    * suppression stage can be pinned LOAD-BEARING directly (sup
    * non-empty, sup ∩ output = ∅) rather than inferred from output
    * diffs a different stage could explain. Returns (ranked candidates
    * after the en-filter + cap with global rank `r`, suppressed ids). */
  private[graft] def retrievalStages(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val (assigned, q, _) = ivfIndex(spark, sfDir)
    val allowed = graft.Tables.documents(spark, sfDir)
      .filter($"lang" === "en").select($"doc_id".as("vec_id"))
    val probes = probeCells(spark, sfDir, DivProbe, q)
      .select($"probe_cell")
    val cand = assigned
      .join(broadcast(probes), $"cell" === $"probe_cell")
      .filter($"vec_id" =!= 0)
      .join(allowed, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .select($"vec_id", $"cell", $"v",
        round(cosine($"v", $"qv"), 6).as("cos"))
    val ranked = cand
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy($"cell").orderBy(desc("cos"), $"vec_id")))
      .filter($"cell_rank" <= DivCap)
      .withColumn("r", row_number().over(
        Window.orderBy(desc("cos"), $"vec_id")).cast("long"))
    // the pair matrix is ≤ (DivProbe·DivCap)² config-bounded rows;
    // broadcast the right side so the non-equi join plans as a
    // broadcast-fed NL join, never a CartesianProduct (PlanAuditSpec)
    val sup = ranked.as("a")
      .join(broadcast(ranked.as("b")), col("a.r") < col("b.r"))
      .filter(cosine(col("a.v"), col("b.v")) >= ServeTau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    (ranked, sup)
  }

  /** v26: the nprobe tuning curve — recall@10 of the IVF probe as a
    * function of how many cells are probed (nprobe ∈ 1..4), against
    * the brute-force exact ranking. v18 reports recall@k for the
    * DEPLOYED nprobe (2); this is the curve a deployment reads to
    * CHOOSE it — the accuracy/cost trade-off: n_scored is the cost
    * axis (candidates actually scored at that setting — the probed
    * cells' population), n_returned the fill (min(10, n_scored)).
    * Monotone in nprobe by construction (cells nest).
    *
    * Scale design: every probed vector is scored ONCE (the candidate
    * table tags each with its cell's rank); the per-nprobe rankings
    * are a ≤4× fan-out of that probe-bounded candidate set, never of
    * the corpus — same contract as v07: the corpus-sized work is the
    * shared [[ivfIndex]] assignment, everything after is
    * probe-bounded. Exact top-10 comes from [[cosineTopK]]'s declared
    * contract (one corpus scan). */
  def nprobeCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (assigned, q, _) = ivfIndex(spark, sfDir)
    val ranked = probeCells(spark, sfDir, 4, q)
    val cand = assigned
      .join(broadcast(ranked), $"cell" === $"probe_cell")
      .filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"cell_rank",
        round(cosine($"v", $"qv"), 6).as("cos"))
    val exact = cosineTopK(spark, sfDir)
      .withColumn("ex_rank",
        row_number().over(Window.orderBy(desc("cos"), $"vec_id")))
      .filter($"ex_rank" <= 10)
      .select($"vec_id", lit(1L).as("hit"))
    val probes = Seq(1L, 2L, 3L, 4L).toDF("nprobe")
    val fanned = cand.join(broadcast(probes), $"cell_rank" <= $"nprobe")
    val scored = fanned.groupBy($"nprobe")
      .agg(count(lit(1)).as("n_scored"))
    fanned
      .withColumn("rn", row_number().over(
        Window.partitionBy($"nprobe").orderBy(desc("cos"), $"vec_id")))
      .filter($"rn" <= 10)
      .join(broadcast(exact), Seq("vec_id"), "left")
      .groupBy($"nprobe")
      .agg(count(lit(1)).as("n_returned"),
        sum(coalesce($"hit", lit(0L))).as("n_hit"))
      .join(broadcast(scored), Seq("nprobe"))
      .select($"nprobe", $"n_scored", $"n_returned", $"n_hit",
        graft.functions.Det.r4($"n_hit", lit(10L)).as("recall"))
      .orderBy($"nprobe")
  }

  /** v27 agreement threshold on the embedding cosine of text-dup
    * pairs. The synthetic fixture's embeddings carry NO text signal
    * (dup-pair cosines scatter around 0, −0.17..0.28 at sf0.01), so
    * the threshold sits at the scatter's center to keep both flag
    * values populated; on a real corpus text dups cluster near
    * cos ≈ 1 and the threshold is high (~0.8) — the rare disagreeing
    * pair is the finding. */
  private[graft] val CrossModalTau = 0.0

  /** v27: cross-modal agreement audit — d51's methods-agreement idea
    * extended across MODALITIES: every text-level near-dup pair (the
    * d06 MinHash contract, shared cache) scored by its EMBEDDING
    * cosine, flagging pairs where the two modalities disagree. In a
    * production pipeline this is the caption/image-mismatch and
    * poisoned-pair detector: text says duplicate, the embedding
    * model says unrelated (or vice versa via v15's semantic pairs) —
    * either the dedup config or the embedding run is wrong for those
    * rows, and both feed training.
    *
    * Scale design: the pair list is the d06 output (already
    * candidate-bounded by banding); the embedding join is two keyed
    * hash joins on the pair ids against the vector table — pair-count
    * sized, never corpus×corpus; the cosine is the codegen'd
    * expression. Nothing new shuffles at corpus scale. */
  def crossModalCheck(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = graft.operators.TextOps.lshPairs(spark, sfDir)
    val e = embDouble(spark, sfDir)
    pairs
      .join(e.select($"vec_id".as("d1"), $"v".as("v1")), "d1")
      .join(e.select($"vec_id".as("d2"), $"v".as("v2")), "d2")
      .select($"d1", $"d2", $"est_jaccard",
        round(cosine($"v1", $"v2"), 6).as("cos"))
      .withColumn("agree", $"cos" >= CrossModalTau)
      .orderBy($"d1", $"d2")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v27_crossmodal_check" -> crossModalCheck _,
    "v30_retrieval_pipeline" -> retrievalPipeline _,
    "v28_diversified_topk" -> diversifiedTopK _,
    "v26_nprobe_curve"    -> nprobeCurve _,
    "v25_filtered_ann"    -> filteredAnn _,
    "v24_ivf_balance"     -> ivfBalance _,
    "v23_range_search"    -> rangeSearch _,
    "v20_pca_power"       -> pcaPower _,
    "v21_truncated_recall" -> truncatedRecall _,
    "v16_mmr_diversify"   -> mmrDiversify _,
    "v17_search_expand"   -> searchExpand _,
    "v01_cosine_topk"     -> cosineTopK _,
    "v11_knn_classify"    -> knnClassify _,
    "v02_centroids"       -> centroids _,
    "v03_nearest_centroid" -> nearestCentroid _,
    // v04 (brute-force embedNearDup) is deliberately NOT declared: its
    // plan is a BroadcastNestedLoopJoin (exact but quadratic). v08 holds
    // the near-dup contract; LshRecallSpec cross-checks v08 against v04.
    "v05_ann_sign_lsh"    -> annSignLsh _,
    "v06_vector_stats"    -> vectorStats _,
    "v07_ivf_ann"         -> ivfAnn _,
    "v08_lsh_neardup"     -> lshNearDup _,
    "v09_kmeans"          -> kmeans _,
    "v19_silhouette"      -> silhouette _,
    "v10_embed_dup_clusters" -> embedDupClusters _,
    "v12_quantized_topk"  -> quantizedTopK _,
    "v13_pq_ann"          -> pqAnn _,
    "v22_ivfpq_ann"       -> ivfPqAnn _,
    "v14_hard_negatives"  -> hardNegatives _,
    "v15_semantic_dedup"  -> semanticDedup _,
    "v18_ann_recall"      -> annRecall _,
    "d32_semantic_decontaminate" -> semanticDecontaminate _,
  )

  /** Scalar-quantized candidate scan + exact re-rank: every vector is
    * quantized to int8 (round(x·64), clamped to ±127 — 4-8× smaller
    * than float32/64 storage), the query's top-50 candidates are found
    * on QUANTIZED dot products only, and just those 50 get the exact
    * float cosine, re-ranked to a top-10.
    *
    * The memory-bandwidth shape of production ANN: the full-corpus
    * scan touches only compressed vectors (at 100 TB of float32
    * embeddings the int8 copy is 25 TB — often the difference between
    * in-memory and spilling), while exact math runs on a candidate set
    * ~corpus/40000. Quantized dots are integer-exact (≤ 64·127² ≈ 10⁶,
    * far inside exact-double range), so both engines rank candidates
    * identically — no float-tie hazard until the final round(cos, 6)
    * re-rank, which reuses v01's rounding contract. Top-50 and top-10
    * both run as TakeOrderedAndProject (per-partition heap + driver
    * merge, never a full sort). */
  def quantizedTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embDouble(spark, sfDir)
      .withColumn("qv", expr(
        "transform(v, x -> cast(greatest(-127.0, least(127.0, round(x * 64))) as double))"))
    val q = e.filter($"vec_id" === 0).select($"qv".as("qqv"), $"v".as("refv"))
    val cand = e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"v", $"refv",
        dot($"qv", $"qqv").cast("long").as("qdot"))
      .orderBy(desc("qdot"), $"vec_id")
      .limit(50)
    cand
      .select($"vec_id", $"qdot",
        round(cosine($"v", $"refv"), 6).as("cos"))
      .orderBy(desc("cos"), $"vec_id")
      .limit(10)
  }

  private val cosSql =
    "list_dot_product(%s, %s) / (sqrt(list_dot_product(%s, %s)) * sqrt(list_dot_product(%s, %s)))"
  /** The DuckDB cosine of list expressions `a` and `b` — the scoring
    * formula the v-oracles and s34's oracle share. */
  private[graft] def cos(a: String, b: String): String =
    cosSql.format(a, b, a, a, b, b)

  /** The v08 sign-LSH band table as a DuckDB CTE chain ending at
    * `bands(vec_id, b, code)` + `e(vec_id, v)` — ONE text shared by the
    * v08 oracle and the s47 streaming-ingest oracle
    * ([[graft.streaming.StreamOps]]) so the index definition cannot
    * drift between the batch and ingest paths. Same md5-parity
    * hyperplanes as the Spark side ([[org.apache.spark.sql.graft
    * .VectorExpressions]] `LshBandCodes`): plane j = b*8 + k, sign =
    * parity of md5('g:j')'s first hex digit; band code = Σ_k 2^k·bit_k,
    * matching LshBandCodes bit order. */
  private[graft] val lshBandsCteSql: String = {
    val bitExpr =
      """CASE WHEN list_dot_product(v, [CASE WHEN substr(md5(g::VARCHAR ||
        |  ':' || (b*8 + k)::VARCHAR), 1, 1) IN
        |  ('0','2','4','6','8','a','c','e') THEN 1.0 ELSE -1.0 END
        |  for g in range(0, 64)]) >= 0 THEN (1::BIGINT << k) ELSE 0 END""".stripMargin
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |bits AS (SELECT vec_id, b, k, $bitExpr AS bit
       |  FROM e CROSS JOIN (SELECT unnest(range(8)) AS b)
       |  CROSS JOIN (SELECT unnest(range(8)) AS k)),
       |bands AS (SELECT vec_id, b, SUM(bit) AS code
       |  FROM bits GROUP BY vec_id, b)""".stripMargin
  }

  /** The v08/v10 blocked candidate-pair CTE chain (reads `bands` from
    * [[lshBandsCteSql]], ends at `cand(d1, d2)`) — ONE text shared by
    * both oracles so the pair-set definition cannot drift between the
    * near-dup list and its cluster rollup. The ⌊rank/[[LshBlk]]⌋
    * sub-block mirrors the Spark side's rank salting (see
    * [[lshNearDup]]'s cap note). */
  private[graft] val lshBlockedCandCteSql: String =
    s"""bb AS (SELECT vec_id, b, code,
       |  CAST(floor((row_number() OVER (PARTITION BY b, code
       |    ORDER BY vec_id) - 1) / $LshBlk) AS BIGINT) AS blk FROM bands),
       |cand AS (SELECT DISTINCT a.vec_id AS d1, c.vec_id AS d2
       |  FROM bb a JOIN bb c ON a.b = c.b AND a.code = c.code
       |  AND a.blk = c.blk AND a.vec_id < c.vec_id)""".stripMargin

  /** Oracle-text fragments this module shares verbatim between its
    * Spark formulas and its DuckDB oracles (or across query faces) —
    * see [[graft.operators.Extras.sharedOracleFragments]] for the
    * FormulaAuditSpec contract these feed. */
  private[graft] def sharedOracleFragments: Map[String, String] = Map(
    "sign-lsh-bands" -> lshBandsCteSql,
    "sign-lsh-blocked-cand" -> lshBlockedCandCteSql,
    "ivf-centroids" -> ivfCentCte,
    "retrieval-pipeline" -> retrievalPipelineSql)

  /** The v07 index definition (cent/cv/e) as a CTE prefix — ONE text
    * shared by the v07/v18 oracles and the s34 streaming-assignment
    * oracle ([[graft.streaming.StreamOps]]) so the coarse quantizer
    * cannot drift between the batch probe and the ingest path. */
  private[graft] def ivfCentCte: String =
    s"""cent AS (SELECT label AS c_label, i, avg(embedding[i]::DOUBLE) AS c
       |  FROM embeddings CROSS JOIN generate_series(1, 64) t(i) GROUP BY 1, 2),
       |cv AS (SELECT c_label, list(c ORDER BY i) AS cvv FROM cent GROUP BY 1),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)""".stripMargin

  /** The v07 IVF probe as a DuckDB CTE chain ending at
    * `ivfr(vec_id, cell, cos, rn)` — every probed candidate ranked by
    * (round(cos, 6) DESC, vec_id) — shared by the v07 and v18 oracles
    * so the index definition cannot drift between them. */
  /** The v07 cell assignment + probe-cell selection CTEs (assigned, q,
    * qcells; require cent/cv/e in scope) — shared by the plain probe
    * (ivfCte → v07/v18) and the composed IVF-PQ oracle (v22). */
  private def ivfProbeCtes: String =
    s"""assigned AS (SELECT vec_id, v, c_label AS cell FROM (
       |  SELECT e.vec_id, e.v, cv.c_label,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cos("e.v", "cv.cvv")} DESC, cv.c_label) AS rn
       |  FROM e CROSS JOIN cv) x WHERE rn = 1),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |qcells AS (SELECT c_label AS probe_cell FROM cv CROSS JOIN q
       |  ORDER BY ${cos("cv.cvv", "qv")} DESC, c_label LIMIT 2)""".stripMargin

  /** The v13 PQ training/encode/ADC chain for subspace `s` (the v09
    * unrolled-Lloyd oracle instantiated on the slice, plus encode k$s
    * and ADC table t$s; requires `e` in scope) — shared by the v13 and
    * v22 oracles so the codebooks cannot drift between them. */
  private def pqChainCtes(s: Int): String = {
    val lo = s * PqD + 1; val hi = s * PqD + PqD
    def assign(prev: String, out: String, proj: String) =
      s"""$out AS (SELECT $proj FROM (SELECT t.vec_id, t.vs, c.cl,
         |  row_number() OVER (PARTITION BY t.vec_id ORDER BY
         |    list_dot_product(c.cv, c.cv) - 2*list_dot_product(t.vs, c.cv), c.cl) AS rn
         |  FROM e$s t CROSS JOIN $prev c) z WHERE rn = 1)""".stripMargin
    val iters = (1 to PqIters).map { i =>
      assign(s"c${s}_${i - 1}", s"a${s}_$i", "vec_id, vs, cl") + ",\n" +
        s"""c${s}_$i AS (SELECT cl, list(round(c, 6) ORDER BY i) AS cv FROM
           |  (SELECT cl, i, avg(vs[i]) AS c FROM a${s}_$i
           |   CROSS JOIN generate_series(1, $PqD) t(i) GROUP BY cl, i) u
           |  GROUP BY cl)""".stripMargin
    }.mkString(",\n")
    Seq(
      s"e$s AS (SELECT vec_id, v[$lo:$hi] AS vs FROM e)",
      s"""c${s}_0 AS (SELECT vec_id AS cl, [round(x, 6) for x in vs] AS cv
         |  FROM e$s WHERE vec_id < $PqK)""".stripMargin,
      iters,
      assign(s"c${s}_$PqIters", s"k$s", s"vec_id, cl AS c$s"),
      s"""t$s AS (SELECT cl, list_dot_product(cv, cv)
         |  - 2*list_dot_product(q.vs, cv) AS t FROM c${s}_$PqIters
         |  CROSS JOIN (SELECT vs FROM e$s WHERE vec_id = 0) q)""".stripMargin
    ).mkString(",\n")
  }

  private def ivfCte: String =
    s"""$ivfCentCte,
       |$ivfProbeCtes,
       |ivfr AS (SELECT a.vec_id, a.cell, round(${cos("a.v", "qv")}, 6) AS cos,
       |  row_number() OVER (ORDER BY round(${cos("a.v", "qv")}, 6) DESC, a.vec_id) AS rn
       |  FROM assigned a JOIN qcells ON a.cell = qcells.probe_cell
       |  CROSS JOIN q WHERE a.vec_id <> 0)""".stripMargin

  /** The v16 greedy MMR steps 2..8 unrolled as CTE pairs (pick sᵢ,
    * accumulate selᵢ) — mirrors the Spark driver loop in exact integer
    * micro-units. */
  private def mmrStepCtes: String = (2 to 8).map { i =>
    s"""s$i AS MATERIALIZED (SELECT c.vec_id, c.rel, m.ms AS max_sim,
       |  c.rel - m.ms AS score, CAST($i AS BIGINT) AS rank
       |  FROM cand c JOIN (SELECT a_id, max(sim) AS ms FROM sims
       |    WHERE b_id IN (SELECT vec_id FROM sel${i - 1}) GROUP BY a_id) m
       |    ON m.a_id = c.vec_id
       |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
       |  ORDER BY score DESC, c.vec_id LIMIT 1),
       |sel$i AS MATERIALIZED (SELECT vec_id FROM sel${i - 1}
       |  UNION ALL SELECT vec_id FROM s$i)""".stripMargin
  }.mkString(",\n")

  /** Unrolled power-iteration CTE chain for v20's oracle — one
    * (multiply, renormalize) round per [[PcaIters]], mirroring the
    * Scala loop's integer ops exactly (HUGEINT ≡ BigInt). Each round's
    * max |w| is a window over its own aggregate, so a round reads the
    * previous one once: DuckDB inlines CTEs, and two reads per round
    * would expand `amat` 2^PcaIters times. */
  private def pcaIterCtes: String = {
    val F = graft.functions.Det.sql
    (1 to PcaIters).map { i =>
      val pv = if (i == 1) "v0" else s"v${i - 1}"
      s"""w$i AS (SELECT a.j AS j, sum(a.a * v.v) AS w,
         |    max(abs(sum(a.a * v.v))) OVER () AS mw
         |  FROM amat a JOIN $pv v ON v.j = a.k GROUP BY a.j),
         |v$i AS (SELECT j, CASE WHEN mw = 0 THEN w
         |  ELSE ${F.fdiv("w * 1000000", "mw")} END AS v
         |  FROM w$i)""".stripMargin
    }.mkString(",\n")
  }

  /** v30's FULL oracle text — every serving stage with its constants.
    * Shared VERBATIM with s48 (the streaming serving capstone,
    * [[graft.streaming.StreamOps]]): the streamed-ingest index's served
    * top-5 must hash-match the batch truth, so the two queries declare
    * literally the same oracle. */
  /** The v30 probe-cell ranking CTE — shared by the one-pass pipeline
    * and the s50 two-pass tombstoned variant. */
  private def rpRcCte: String =
    s"""rc AS (SELECT * FROM (SELECT c_label AS probe_cell,
       |    row_number() OVER (ORDER BY ${cos("cv.cvv", "qv")} DESC,
       |      c_label) AS cr
       |  FROM cv CROSS JOIN q) z WHERE cr <= $DivProbe)""".stripMargin

  /** One stage chain (cand→capped→rk→sup) of the v30 pipeline, with a
    * suffix for multi-pass oracles and an extra candidate predicate —
    * the ONE text [[retrievalPipelineSql]] and
    * [[retrievalPipelineTombstonedSql]] both assemble from, so the
    * stage formulas cannot drift between the capstone and its
    * deletion face. */
  private def rpStageCtes(sfx: String, candPred: String): String =
    s"""cand$sfx AS (SELECT a.vec_id, a.cell, a.v,
       |    round(${cos("a.v", "qv")}, 6) AS cos
       |  FROM assigned a JOIN rc ON a.cell = rc.probe_cell
       |  JOIN documents d ON d.doc_id = a.vec_id AND d.lang = 'en'
       |  CROSS JOIN q WHERE a.vec_id <> 0$candPred),
       |capped$sfx AS (SELECT *, row_number() OVER (PARTITION BY cell
       |    ORDER BY cos DESC, vec_id) AS cell_rank FROM cand$sfx),
       |rk$sfx AS (SELECT *, row_number() OVER (ORDER BY cos DESC, vec_id)
       |    AS r FROM capped$sfx WHERE cell_rank <= $DivCap),
       |sup$sfx AS (SELECT DISTINCT b.vec_id FROM rk$sfx a JOIN rk$sfx b
       |  ON a.r < b.r AND ${cos("a.v", "b.v")} >= $ServeTau)""".stripMargin

  private[graft] def retrievalPipelineSql: String =
    s"""WITH $ivfCentCte,
       |$ivfProbeCtes,
       |$rpRcCte,
       |${rpStageCtes("", "")}
       |SELECT vec_id, cell, cos FROM rk
       |WHERE vec_id NOT IN (SELECT vec_id FROM sup)
       |ORDER BY r LIMIT 5""".stripMargin

  /** s50's oracle: v30's pipeline run TWICE — first over the full
    * corpus to derive the tombstone set (the top-[[TombK]] SERVED
    * results — the "these documents must be erased" scenario at its
    * most adversarial: the deleted docs are exactly what the index
    * would have answered), then over corpus ∖ tombstones. The streamed
    * index (ingest → tombstones → compaction replay of the touched
    * cells) must serve the second pass's batch truth — a resurrection
    * (tombstoned id still served), a lost buffer entry (survivor
    * missing after compaction), or a stale-batchId read all flip the
    * hash. */
  private[graft] def retrievalPipelineTombstonedSql: String =
    s"""WITH $ivfCentCte,
       |$ivfProbeCtes,
       |$rpRcCte,
       |${rpStageCtes("", "")},
       |tomb AS (SELECT vec_id FROM rk
       |  WHERE vec_id NOT IN (SELECT vec_id FROM sup)
       |  ORDER BY r LIMIT $TombK),
       |${rpStageCtes("2",
          " AND a.vec_id NOT IN (SELECT vec_id FROM tomb)")}
       |SELECT vec_id, cell, cos FROM rk2
       |WHERE vec_id NOT IN (SELECT vec_id FROM sup2)
       |ORDER BY r LIMIT 5""".stripMargin

  /** How many of the served top results s50 tombstones. */
  private[graft] val TombK = 2

  val oracles: Map[String, String] = Map(
    // integer power iteration: every CTE stays HUGEINT-exact mid-chain
    // (mirrored by BigInt on the Spark side); outputs CAST to BIGINT
    "v20_pca_power" -> {
      val F = graft.functions.Det.sql
      s"""WITH m AS (SELECT vec_id, t.i AS j,
         |    CAST(round(CAST(embedding[t.i + 1] AS DOUBLE) * 1000, 0)
         |      AS BIGINT) AS m
         |  FROM embeddings, range(0, $PcaDim) t(i)),
         |mu AS (SELECT j, sum(m) AS s, count(*) AS n,
         |    ${F.fdiv("2 * sum(m) + count(*)", "2 * count(*)")} AS mu
         |  FROM m GROUP BY j),
         |gram AS (SELECT a.j AS j, b.j AS k, sum(a.m * b.m) AS mm
         |  FROM m a JOIN m b ON a.vec_id = b.vec_id GROUP BY a.j, b.j),
         |amat0 AS (SELECT g.j, g.k,
         |    g.mm - x.mu * y.s - y.mu * x.s + x.n * x.mu * y.mu AS a
         |  FROM gram g JOIN mu x ON x.j = g.j JOIN mu y ON y.j = g.k),
         |adiv AS (SELECT max(abs(a)) // 1000000000 + 1 AS dv FROM amat0),
         |amat AS (SELECT j, k, ${F.fdiv("a", "dv")} AS a
         |  FROM amat0, adiv),
         |v0 AS (SELECT t.i AS j, 1000000 AS v FROM range(0, $PcaDim) t(i)),
         |$pcaIterCtes
         |SELECT v.j AS dim_idx, CAST(mu.mu AS BIGINT) AS mu_milli,
         |  CAST(v.v AS BIGINT) AS loading_micro
         |FROM v$PcaIters v JOIN mu ON mu.j = v.j
         |ORDER BY dim_idx""".stripMargin
    },
    // d28's scoring CTE (shared text) seeds v01's cosine expansion
    "v17_search_expand" ->
      s"""WITH ${graft.operators.TextOps.bm25Cte},
         |seed AS (SELECT sc.doc_id AS seed_id, sc.score AS seed_score
         |  FROM sc JOIN embeddings e ON e.vec_id = sc.doc_id
         |  WHERE sc.term = 'spark'
         |  ORDER BY sc.score DESC, sc.doc_id LIMIT 1),
         |sv AS (SELECT seed_id, seed_score, embedding::DOUBLE[] AS v
         |  FROM seed JOIN embeddings ON vec_id = seed_id),
         |ee AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings)
         |SELECT seed_id, seed_score, vec_id AS neighbor_id,
         |  round(${cos("ee.ev", "sv.v")}, 6) AS cos
         |FROM ee CROSS JOIN sv WHERE ee.vec_id <> sv.seed_id
         |ORDER BY cos DESC, neighbor_id LIMIT 10""".stripMargin,
    "v16_mmr_diversify" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0),
         |sc AS (SELECT vec_id, v,
         |  CAST(round((${cos("v", "qv")}) * 1000000) AS BIGINT) AS rel
         |  FROM e CROSS JOIN q),
         |cand AS MATERIALIZED (SELECT * FROM sc ORDER BY rel DESC, vec_id LIMIT 30),
         |sims AS MATERIALIZED (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  CAST(round((${cos("a.v", "b.v")}) * 1000000) AS BIGINT) AS sim
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         |s1 AS MATERIALIZED (SELECT vec_id, rel, CAST(0 AS BIGINT) AS max_sim,
         |  rel AS score, CAST(1 AS BIGINT) AS rank
         |  FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
         |sel1 AS MATERIALIZED (SELECT vec_id FROM s1),
         |$mmrStepCtes
         |SELECT rank, vec_id, rel AS rel_micro, max_sim AS maxsim_micro,
         |  score AS score_micro
         |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
         |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
         |  UNION ALL SELECT * FROM s5 UNION ALL SELECT * FROM s6
         |  UNION ALL SELECT * FROM s7 UNION ALL SELECT * FROM s8)
         |ORDER BY rank""".stripMargin,
    "v01_cosine_topk" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0)
         |SELECT vec_id, round(${cos("v", "qv")}, 6) AS cos
         |FROM e CROSS JOIN q
         |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,
    "v11_knn_classify" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |  WHERE label = 0 AND vec_id < $KnnAnchorIdBound),
         |sc AS (SELECT q_id, e.vec_id, e.label,
         |  round(${cos("e.v", "q.qv")}, 6) AS cos
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |t AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |  ORDER BY cos DESC, vec_id) AS rn FROM sc),
         |vt AS (SELECT q_id, label, count(*) AS votes FROM t WHERE rn <= 5
         |  GROUP BY q_id, label),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |  ORDER BY votes DESC, label) AS vr FROM vt)
         |SELECT q_id, label AS predicted, votes FROM r WHERE vr = 1
         |ORDER BY q_id""".stripMargin,
    "v02_centroids" ->
      """SELECT label, CAST(i - 1 AS BIGINT) AS pos, round(avg(embedding[i]::DOUBLE), 6) AS c,
        |count(*) AS n
        |FROM embeddings CROSS JOIN generate_series(1, 64) t(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,
    "v03_nearest_centroid" ->
      s"""WITH cent AS (SELECT label AS c_label, i, avg(embedding[i]::DOUBLE) AS c
         |  FROM embeddings CROSS JOIN generate_series(1, 64) t(i) GROUP BY 1, 2),
         |cv AS (SELECT c_label, list(c ORDER BY i) AS cvv FROM cent GROUP BY 1),
         |e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |sc AS (SELECT e.vec_id, e.label, cv.c_label, ${cos("e.v", "cv.cvv")} AS cos
         |  FROM e CROSS JOIN cv),
         |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |  ORDER BY cos DESC, c_label) AS rn FROM sc)
         |SELECT label, c_label AS predicted, count(*) AS n FROM r WHERE rn = 1
         |GROUP BY label, predicted ORDER BY label, predicted""".stripMargin,
    "v05_ann_sign_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |  array_to_string([CASE WHEN embedding[g] >= 0 THEN '1' ELSE '0' END
         |    for g in range(1, 5)], '') AS bucket
         |  FROM embeddings),
         |q AS (SELECT bucket AS q_bucket, v AS qv FROM e WHERE vec_id = 0)
         |SELECT vec_id, bucket, round(${cos("v", "qv")}, 6) AS cos
         |FROM e CROSS JOIN q
         |WHERE vec_id <> 0 AND bucket = q_bucket
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "v12_quantized_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |  [CAST(greatest(-127.0, least(127.0, round(x * 64))) AS DOUBLE)
         |    for x in embedding::DOUBLE[]] AS qv
         |  FROM embeddings),
         |q AS (SELECT qv AS qqv, v AS refv FROM e WHERE vec_id = 0),
         |cand AS (SELECT vec_id, v, refv,
         |  CAST(list_dot_product(qv, qqv) AS BIGINT) AS qdot
         |  FROM e CROSS JOIN q WHERE vec_id <> 0
         |  ORDER BY qdot DESC, vec_id LIMIT 50)
         |SELECT vec_id, qdot, round(${cos("v", "refv")}, 6) AS cos
         |FROM cand ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "v06_vector_stats" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT vec_id, len(v) AS dim,
        |round(sqrt(list_dot_product(v, v)), 6) AS norm,
        |round(list_sum(v) / len(v), 6) AS mean,
        |round(list_min(v), 6) AS mn,
        |round(list_max(v), 6) AS mx
        |FROM e ORDER BY vec_id""".stripMargin,
    "v07_ivf_ann" ->
      s"""WITH $ivfCte
         |SELECT vec_id, cell, cos FROM ivfr WHERE rn <= 10
         |ORDER BY cos DESC, vec_id""".stripMargin,
    // every stage's SQL with the same constants: en pre-filter (v25),
    // 4-cell probe (v26/v28), per-cell cap (v28), dominated-by-any
    // ServeTau suppression (v15's convention, serving-strict τ), top-5
    "v30_retrieval_pipeline" -> retrievalPipelineSql,
    // the shared assignment with v26's widened probe (4 cells) and a
    // per-cell cap before the global top-10 — the bucket-diversity
    // rule (contrast v16's greedy MMR)
    "v28_diversified_topk" ->
      s"""WITH $ivfCentCte,
         |$ivfProbeCtes,
         |rc AS (SELECT * FROM (SELECT c_label AS probe_cell,
         |    row_number() OVER (ORDER BY ${cos("cv.cvv", "qv")} DESC,
         |      c_label) AS cr
         |  FROM cv CROSS JOIN q) z WHERE cr <= $DivProbe),
         |cand AS (SELECT a.vec_id, a.cell,
         |    round(${cos("a.v", "qv")}, 6) AS cos
         |  FROM assigned a JOIN rc ON a.cell = rc.probe_cell
         |  CROSS JOIN q WHERE a.vec_id <> 0),
         |capped AS (SELECT vec_id, cell, cos,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY cos DESC, vec_id) AS cell_rank
         |  FROM cand)
         |SELECT vec_id, cell, cell_rank, cos FROM capped
         |WHERE cell_rank <= $DivCap
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    // d06's shared pair chain (est_jaccard ≥ 0.5) joined to the
    // embedding table on both pair ids, cosine per pair
    "v27_crossmodal_check" ->
      s"""WITH ${graft.operators.TextOps.mhPairsCte},
         |p AS (SELECT d1, d2, round(nm / 16.0, 4) AS est_jaccard
         |  FROM m WHERE nm / 16.0 >= 0.5),
         |ee AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT d1, d2, est_jaccard,
         |  round(${cos("a.v", "b.v")}, 6) AS cos,
         |  round(${cos("a.v", "b.v")}, 6) >= $CrossModalTau AS agree
         |FROM p JOIN ee a ON a.vec_id = p.d1
         |JOIN ee b ON b.vec_id = p.d2
         |ORDER BY d1, d2""".stripMargin,
    // the shared assignment CTEs with the cell ranking opened up to 4
    // and a per-nprobe re-rank of the once-scored candidate set
    "v26_nprobe_curve" ->
      s"""WITH $ivfCentCte,
         |$ivfProbeCtes,
         |rc AS (SELECT * FROM (SELECT c_label AS probe_cell,
         |    row_number() OVER (ORDER BY ${cos("cv.cvv", "qv")} DESC,
         |      c_label) AS cell_rank
         |  FROM cv CROSS JOIN q) z WHERE cell_rank <= 4),
         |cand AS (SELECT a.vec_id, rc.cell_rank,
         |    round(${cos("a.v", "qv")}, 6) AS cos
         |  FROM assigned a JOIN rc ON a.cell = rc.probe_cell
         |  CROSS JOIN q WHERE a.vec_id <> 0),
         |probes AS (SELECT CAST(unnest([1, 2, 3, 4]) AS BIGINT) AS nprobe),
         |pc AS (SELECT p.nprobe, c.vec_id, c.cos,
         |    row_number() OVER (PARTITION BY p.nprobe
         |      ORDER BY c.cos DESC, c.vec_id) AS rn
         |  FROM probes p JOIN cand c ON c.cell_rank <= p.nprobe),
         |ex AS (SELECT vec_id, row_number() OVER (
         |    ORDER BY round(${cos("e.v", "q.qv")}, 6) DESC, vec_id) AS ex_rank
         |  FROM e CROSS JOIN q WHERE vec_id <> 0),
         |ns AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_scored
         |  FROM pc GROUP BY nprobe),
         |topk AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_returned,
         |    CAST(sum(CASE WHEN ex.ex_rank <= 10 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hit
         |  FROM pc LEFT JOIN ex ON ex.vec_id = pc.vec_id
         |  WHERE pc.rn <= 10 GROUP BY nprobe)
         |SELECT nprobe, n_scored, n_returned, n_hit,
         |  ${graft.functions.Det.sql.r4("n_hit", "10")} AS recall
         |FROM topk JOIN ns USING (nprobe) ORDER BY nprobe""".stripMargin,
    // the shared probe chain, pre-filtered by the metadata predicate
    // and RE-ranked (ivfr's rn is over unfiltered candidates)
    "v25_filtered_ann" ->
      s"""WITH $ivfCte
         |SELECT vec_id, cell, cos FROM (
         |  SELECT i.vec_id, i.cell, i.cos,
         |    row_number() OVER (ORDER BY i.cos DESC, i.vec_id) AS fr
         |  FROM ivfr i JOIN documents d
         |    ON d.doc_id = i.vec_id AND d.lang = 'en') x
         |WHERE fr <= 10 ORDER BY cos DESC, vec_id""".stripMargin,
    // the shared cell assignment (cent/cv/e + assigned CTEs), counted
    // per cell; imbalance = max·k/total in the r4 exact rational
    "v24_ivf_balance" -> {
      val F = graft.functions.Det.sql
      s"""WITH $ivfCentCte,
         |$ivfProbeCtes,
         |cc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors
         |  FROM assigned GROUP BY cell),
         |t AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
         |  CAST(max(n_vectors) AS BIGINT) AS max_n,
         |  CAST(count(*) AS BIGINT) AS k FROM cc)
         |SELECT cell, n_vectors,
         |  ${F.r4("n_vectors", "total")} AS share,
         |  ${F.r4("max_n * k", "total")} AS imbalance
         |FROM cc CROSS JOIN t ORDER BY cell""".stripMargin
    },
    // the same probed-cell scan as v07's ivfr, thresholded on the
    // rounded cosine instead of ranked — index text shared verbatim
    "v23_range_search" ->
      s"""WITH $ivfCte
         |SELECT vec_id, cell, cos FROM ivfr WHERE cos >= $RangeTau
         |ORDER BY cos DESC, vec_id""".stripMargin,
    // v18's recall harness over the matryoshka-prefix candidate ranking
    "v21_truncated_recall" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv,
         |    embedding[1:$TruncDim]::DOUBLE[] AS qvt
         |  FROM embeddings WHERE vec_id = 0),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    embedding[1:$TruncDim]::DOUBLE[] AS vt
         |  FROM embeddings WHERE vec_id <> 0),
         |ex AS (SELECT vec_id, row_number() OVER (
         |    ORDER BY round(${cos("e.v", "q.qv")}, 6) DESC, vec_id) AS ex_rank
         |  FROM e CROSS JOIN q),
         |tr AS (SELECT vec_id, row_number() OVER (
         |    ORDER BY round(${cos("e.vt", "q.qvt")}, 6) DESC, vec_id) AS tr_rank
         |  FROM e CROSS JOIN q),
         |ks AS (SELECT CAST(unnest([1, 5, 10]) AS BIGINT) AS k)
         |SELECT k,
         |  CAST(sum(CASE WHEN tr.tr_rank <= k THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  ((CAST(sum(CASE WHEN tr.tr_rank <= k THEN 1 ELSE 0 END) AS BIGINT) * 20000 + k)
         |    // (k * 2)) / 10000.0 AS recall
         |FROM ks JOIN ex ON ex.ex_rank <= k
         |LEFT JOIN tr ON tr.vec_id = ex.vec_id
         |GROUP BY k ORDER BY k""".stripMargin,
    "v18_ann_recall" ->
      s"""WITH $ivfCte,
         |ex AS (SELECT vec_id, row_number() OVER (
         |    ORDER BY round(${cos("e.v", "q.qv")}, 6) DESC, vec_id) AS ex_rank
         |  FROM e CROSS JOIN q WHERE vec_id <> 0),
         |ks AS (SELECT CAST(unnest([1, 5, 10]) AS BIGINT) AS k)
         |SELECT k,
         |  CAST(sum(CASE WHEN ivfr.rn <= k THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  ((CAST(sum(CASE WHEN ivfr.rn <= k THEN 1 ELSE 0 END) AS BIGINT) * 20000 + k)
         |    // (k * 2)) / 10000.0 AS recall
         |FROM ks JOIN ex ON ex.ex_rank <= k
         |LEFT JOIN ivfr ON ivfr.vec_id = ex.vec_id
         |GROUP BY k ORDER BY k""".stripMargin,
    "v08_lsh_neardup" ->
      s"""WITH $lshBandsCteSql,
         |$lshBlockedCandCteSql
         |SELECT d1, d2, round(${cos("ea.v", "eb.v")}, 6) AS cos
         |FROM cand JOIN e ea ON ea.vec_id = d1 JOIN e eb ON eb.vec_id = d2
         |WHERE ${cos("ea.v", "eb.v")} >= 0.4
         |ORDER BY d1, d2""".stripMargin,
    // same md5 split membership as the d15 oracle; same rounded-cosine
    // + id tiebreak argmax as the v-series rankings
    "d32_semantic_decontaminate" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |  substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2) AS kb,
         |  substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS sb
         |  FROM documents),
         |k AS (SELECT doc_id, CASE WHEN sb < 'cc' THEN 'train'
         |  WHEN sb < 'e6' THEN 'val' ELSE 'test' END AS split
         |  FROM d WHERE kb < CASE WHEN lang = 'en' THEN '80' ELSE '33' END),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |tr AS (SELECT doc_id, v FROM k JOIN e ON vec_id = doc_id
         |  WHERE split = 'train'),
         |ho AS (SELECT doc_id AS eval_id, v AS hv FROM k JOIN e
         |  ON vec_id = doc_id WHERE split = 'test'
         |  ORDER BY eval_id LIMIT $EvalCap),
         |s AS (SELECT doc_id, eval_id,
         |  round(${cos("tr.v", "ho.hv")}, 6) AS cos
         |  FROM tr CROSS JOIN ho),
         |r AS (SELECT doc_id, eval_id, cos, row_number() OVER
         |  (PARTITION BY doc_id ORDER BY cos DESC, eval_id) AS rn FROM s)
         |SELECT doc_id, eval_id AS nearest_eval, cos AS max_cos,
         |  CAST(CASE WHEN cos >= 0.9 THEN 1 ELSE 0 END AS BIGINT)
         |    AS contaminated
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "v10_embed_dup_clusters" -> {
      // v08's band pipeline + blocked candidates (both SHARED texts —
      // the pair-set definition cannot drift from v08's) + recursive
      // transitive closure (the same reach/nodes tail as d12's oracle)
      s"""WITH RECURSIVE $lshBandsCteSql,
         |$lshBlockedCandCteSql,
         |m AS (SELECT d1, d2 FROM cand
         |  JOIN e ea ON ea.vec_id = d1 JOIN e eb ON eb.vec_id = d2
         |  WHERE ${cos("ea.v", "eb.v")} >= 0.4),
         |edges AS (SELECT d1, d2 FROM m UNION SELECT d2, d1 FROM m),
         |reach(a, b) AS (
         |  SELECT d1, d2 FROM edges
         |  UNION
         |  SELECT r.a, e2.d2 FROM reach r JOIN edges e2 ON r.b = e2.d1),
         |nodes AS (SELECT DISTINCT d1 AS vec_id FROM edges)
         |SELECT n.vec_id, least(n.vec_id, min(r.b)) AS cluster_id
         |FROM nodes n LEFT JOIN reach r ON r.a = n.vec_id
         |GROUP BY n.vec_id ORDER BY n.vec_id""".stripMargin
    },
    "v14_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e
        |  WHERE label = 0 AND vec_id < $KnnAnchorIdBound),
        |s AS (SELECT q_id, vec_id, label,
        |  round(list_cosine_similarity(v, qv), 6) AS cos
        |  FROM e CROSS JOIN q WHERE label <> 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |  ORDER BY cos DESC, vec_id) AS rank FROM s)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id AS neg_id,
        |label AS neg_label, cos FROM r
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    "v13_pq_ann" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${(0 until PqS).map(pqChainCtes).mkString(",\n")}
         |SELECT k0.vec_id, c0, c1, c2, c3,
         |round(t0.t + t1.t + t2.t + t3.t, 6) AS adist
         |FROM k0 JOIN k1 USING (vec_id) JOIN k2 USING (vec_id)
         |JOIN k3 USING (vec_id)
         |JOIN t0 ON t0.cl = c0 JOIN t1 ON t1.cl = c1
         |JOIN t2 ON t2.cl = c2 JOIN t3 ON t3.cl = c3
         |WHERE vec_id <> 0
         |ORDER BY adist, vec_id LIMIT 10""".stripMargin,
    // the composed index: the v13 PQ chain verbatim + the v07
    // assigned/qcells probe verbatim; candidates restricted to probed
    // cells, ranked by the same ADC sum
    "v22_ivfpq_ann" ->
      s"""WITH $ivfCentCte,
         |${(0 until PqS).map(pqChainCtes).mkString(",\n")},
         |$ivfProbeCtes
         |SELECT k0.vec_id, a.cell, c0, c1, c2, c3,
         |round(t0.t + t1.t + t2.t + t3.t, 6) AS adist
         |FROM k0 JOIN k1 USING (vec_id) JOIN k2 USING (vec_id)
         |JOIN k3 USING (vec_id)
         |JOIN assigned a ON a.vec_id = k0.vec_id
         |JOIN qcells ON a.cell = qcells.probe_cell
         |JOIN t0 ON t0.cl = c0 JOIN t1 ON t1.cl = c1
         |JOIN t2 ON t2.cl = c2 JOIN t3 ON t3.cl = c3
         |WHERE k0.vec_id <> 0
         |ORDER BY adist, k0.vec_id LIMIT 10""".stripMargin,
    "v09_kmeans" ->
      s"""WITH $lloydCtes
         |SELECT c.cl AS cluster, CAST(i - 1 AS BIGINT) AS pos, c.cv[i] AS c, n.n
         |FROM c$KmIters c CROSS JOIN generate_series(1, 64) t(i)
         |JOIN (SELECT cl, count(*) AS n FROM a$KmIters GROUP BY cl) n ON n.cl = c.cl
         |ORDER BY cluster, pos""".stripMargin,
    // v19 shares the whole Lloyd chain with v09 (same CTE text), then
    // scores every vector against the final centroids; Det.sql.r4
    // floors the (possibly negative) unit sum exactly like Det.r4
    "v19_silhouette" ->
      s"""WITH $lloydCtes,
         |d AS (SELECT a.vec_id, a.cl AS own, c.cl AS ccl,
         |  round(sqrt(greatest(list_dot_product(c.cv, c.cv)
         |    - 2*list_dot_product(a.v, c.cv)
         |    + list_dot_product(a.v, a.v), 0)), 6) AS dist
         |  FROM a$KmIters a CROSS JOIN c$KmIters c),
         |s AS (SELECT vec_id, own,
         |  max(CASE WHEN ccl = own THEN dist END) AS a,
         |  min(CASE WHEN ccl <> own THEN dist END) AS b
         |  FROM d GROUP BY vec_id, own),
         |u AS (SELECT own AS cluster, CASE WHEN greatest(a, b) = 0 THEN 0
         |  ELSE CAST(round((b - a) / greatest(a, b) * 10000) AS BIGINT)
         |  END AS su FROM s)
         |SELECT cluster, count(*) AS n,
         |  ${graft.functions.Det.sql.r4(
             "CAST(sum(su) AS BIGINT)", "count(*) * 10000")} AS silhouette
         |FROM u GROUP BY cluster ORDER BY cluster""".stripMargin,
    // nearest-seed assignment reuses v09's argmin contract (same
    // distance expression, same (d, cl) tie-break); the cosine verify
    // reuses v08's threshold + round-6 contract
    "v15_semantic_dedup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |s AS (SELECT vec_id AS cl, v AS cv FROM e WHERE vec_id <
         |  (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e)),
         |a0 AS (SELECT vec_id, v, cl FROM (SELECT e.vec_id, e.v, s.cl,
         |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    list_dot_product(s.cv, s.cv) - 2*list_dot_product(e.v, s.cv),
         |    s.cl) AS rn
         |  FROM e CROSS JOIN s) t WHERE rn = 1),
         |a AS (SELECT vec_id, v, cl,
         |  (row_number() OVER (PARTITION BY cl ORDER BY vec_id) - 1)
         |    // $SemB AS blk
         |  FROM a0),
         |p AS (SELECT x.cl AS cluster, x.vec_id AS keep_id,
         |  y.vec_id AS drop_id, list_cosine_similarity(x.v, y.v) AS cos
         |  FROM a x JOIN a y ON x.cl = y.cl AND x.blk = y.blk
         |    AND x.vec_id < y.vec_id
         |  WHERE list_cosine_similarity(x.v, y.v) >= $SemTau)
         |SELECT cluster, drop_id, min(keep_id) AS kept_id,
         |  round(max(cos), 6) AS max_cos
         |FROM p GROUP BY cluster, drop_id
         |ORDER BY cluster, drop_id""".stripMargin,
  )
}
