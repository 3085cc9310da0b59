package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-12 systematization of the r11 HLL-divisor lesson: a
  * SHARED-FORMULA oracle — one whose SQL text mirrors the Spark side's
  * formula (shared CTE fragments, shared constants) — proves
  * cross-engine AGREEMENT, not CORRECTNESS. A wrong shared constant
  * passes the 232/232 hash gate forever, and a formula branch no
  * fixture reaches is simply never executed (x01's raw branch divided
  * by 2²⁴ instead of 2²⁵ for a full commit cycle; the fixture SFs only
  * exercise linear counting).
  *
  * This spec is the STANDING GATE for that class:
  *
  *  - Each operator module declares the oracle-text fragments it shares
  *    verbatim between its Spark formulas and its oracles
  *    (`sharedOracleFragments` in Extras/TextOps/VectorOps, plus the
  *    cross-face oracle reuses collected here).
  *  - Every declared query whose oracle contains such a fragment MUST
  *    have a row in [[FormulaAudit.registry]], naming its formula
  *    branches and the INDEPENDENT-truth spec (exact recomputation,
  *    engine-baseline, property test, or quality harness — never the
  *    mirrored formula) that exercises each branch.
  *  - A new query that reuses a shared fragment without a registry row
  *    fails the suite; a registry row for an undeclared query fails
  *    too (no stale audit rows).
  *
  * The registry is mirrored as the SURVEY §5 audit table (query ×
  * branch × truth-spec × fixture).
  */
object FormulaAudit {

  /** query → (formula branches, independent-truth spec exercising them). */
  final case class AuditRow(branches: String, truth: String)

  /** Shared fragments, collected from the modules that declare them plus
    * the cross-face oracle reuses (one oracle text serving two query
    * faces — batch truth and streaming ingest). */
  val fragments: Map[String, String] =
    graft.operators.Extras.sharedOracleFragments ++
      graft.operators.TextOps.sharedOracleFragments ++
      graft.operators.VectorOps.sharedOracleFragments ++ Map(
        "tumbling-daily" ->
          graft.operators.Events.oracles("e02_tumbling_daily"),
        "funnel-stages" ->
          graft.operators.Events.oracles("e44_funnel_stages"),
        "attribution" ->
          graft.operators.Events.oracles("e47_attribution"),
        "cusum-prefix" -> graft.operators.Events.cusumOracle,
        "gini-lorenz" -> graft.operators.Events.giniOracle)

  val registry: Map[String, AuditRow] = Map(
    // ---- HLL family (hll-registers / hll-estimate) --------------------
    "x01_approx_distinct" -> AuditRow(
      "linear-counting branch (eRaw<=640 && nb<m); raw alpha*m^2/Z branch; branch selector boundary",
      "SketchBoundsSpec: 'x01 deterministic-HLL estimates within 3 sigma of exact' " +
        "(linear, fixture); 'x01's RAW-branch estimate holds at 5000 distinct keys' " +
        "(raw, synthetic — fails on the 2^24 bug); " +
        "'hllEst stays accurate ACROSS the linear/raw branch boundary' " +
        "(selector sweep, synthetic); " +
        "'x01 tracks the engine's HLL++ baseline (approx_count_distinct)' " +
        "(engine baseline)"),
    "x03_hll_union" -> AuditRow(
      "register max-merge monoid; same readout branches as x01",
      "SketchBoundsSpec: 'x03 daily-merged registers give EXACTLY the direct x01 " +
        "estimate' (exact equality — any merge drift flips it); " +
        "readout branches via x01's rows"),
    "x06_hll_setops" -> AuditRow(
      "inclusion-exclusion; GREATEST(0,·) clamp branch (unreachable on fixtures); readout branches",
      "SketchBoundsSpec: 'x06 sketch intersection tracks the exact pairwise overlap' " +
        "(exact truth, tolerance); 'x06 inclusion-exclusion clamps at 0 when forced " +
        "negative' (clamp branch, synthetic registers)"),
    // ---- CMS (cms-cells, x05 text shared verbatim with s49) -----------
    "x05_count_min" -> AuditRow(
      "d-row min read-off; row-salted bucket hash (contract-preserving constant)",
      "SketchBoundsSpec: 'x05 count-min estimates never undercount, over by at most " +
        "eN/w' vs exact counts (the CMS guarantee holds for ANY hash family, so " +
        "bucket-constant drift is contract-preserving; the guarantee itself is the " +
        "pinned truth)"),
    "s49_stream_count_min" -> AuditRow(
      "same cells as x05 via BinCountProcessor MapState fold",
      "x05's rows + StateBoundSpec 's49 CMS state rows == occupied cells, " +
        "hard-capped at d*w' + GraftSpec cross-face equality " +
        "(streamed cells == batch cells at a pinned batchId)"),
    // ---- MinHash family (minhash-bands) --------------------------------
    "d06_minhash_lsh" -> AuditRow(
      "shingle hash; 16 permutations (a*x+b mod p); 4-band grouping; >=8/16 match threshold",
      "GraftSpec: 'd52 = d06 restricted to pairs touching a new arrival' " +
        "(incrementality identity); " +
        "'d54 banding curve: cost and recall both rise' (band/threshold semantics); " +
        "constants are a hash-family choice — candidate quality is the contract, " +
        "pinned via d08's exact-Jaccard face ('PPJoin pairs match brute-force Jaccard')"),
    "d12_dup_clusters" -> AuditRow(
      "d06 pair graph + min-label propagation",
      "GraphProps: label propagation vs direct connected components; d06's rows above"),
    "d21_cross_source_dups" -> AuditRow(
      "d06 bands restricted cross-source",
      "d06's rows (same fragment, pure filter on top)"),
    "d22_canonical_neardup" -> AuditRow(
      "canonicalization + d06 bands",
      "d06's rows; d14 canonicalization is exact string work verified by its own oracle"),
    "d35_dup_triangles" -> AuditRow(
      "canonical a<b<c triangle orientation; degree definition; " +
        "r4 clustering coefficient with the deg<2 zero branch",
      "GraftSpec: 'd35 equals a plain-Scala triangle enumeration' (exact " +
        "equality from the declared pair set, nonzero triangles asserted); " +
        "d06's rows"),
    "d51_method_agreement" -> AuditRow(
      "d06/d19/d08 pairwise agreement counts",
      "each method's own independent pin (d06/d19/d08 rows); agreement is set algebra"),
    "d52_incremental_neardup" -> AuditRow(
      "d06 bands split corpus/arrival",
      "GraftSpec: 'd52 = d06 restricted to pairs touching a new arrival' (exact identity)"),
    "d54_banding_curve" -> AuditRow(
      "(b,r) banding sweep over the d06 signature table",
      "GraftSpec: 'd54 banding curve: cost and recall both rise as bands narrow' " +
        "(monotonicity — the curve's semantic content — vs the d08 exact-Jaccard truth)"),
    "v27_crossmodal_check" -> AuditRow(
      "d06 text bands joined against embedding cosine",
      "d06's rows + VectorExpressionsSpec cosine vs direct dot product"),
    "s24_stream_neardup" -> AuditRow(
      "d06 bands as streaming state; probe = 4 point lookups",
      "GraftSpec: 's24 incremental near-dup equals the batch band join' (cross-face identity)"),
    // ---- chunk grid (chunk-grid: d45/d56) -------------------------------
    "d45_chunk_overlap" -> AuditRow(
      "32/16 window grid; tail clamp (shorter last chunks)",
      "GraftSpec: 'd45/d56 equal a plain-Scala brute-force recomputation' — the grid, " +
        "hashes and tail behavior recomputed driver-side with java MessageDigest " +
        "(an independent md5 path) on the collected docs"),
    "d56_chunk_dup_rollup" -> AuditRow(
      "positional sub-hash banding (4x8); df cap; >=2-position match; trim rule n_dup*2 > n_chunks",
      "GraftSpec: 'd45/d56 equal a plain-Scala brute-force recomputation' — the full " +
        "rollup (banding, cap, pairing, rollup) recomputed in plain Scala collections " +
        "with driver-side md5, exact equality"),
    // ---- SimHash (simhash-pairs) ---------------------------------------
    "d19_simhash_neardup" -> AuditRow(
      "32-bit simhash bit-sum; segment banding; Hamming<=1 verify",
      "GraftSpec: 'SimHash segment banding finds every Hamming-<=1 pair (pigeonhole)' " +
        "— the banding completeness theorem, independent of the hash constants"),
    // ---- exact-Jaccard (jaccard-pairs) ---------------------------------
    "d08_ngram_jaccard" -> AuditRow(
      "prefix filter; positional filter; sorted-intersect verify; tau=0.5",
      "GraftSpec: 'PPJoin pairs match brute-force Jaccard on seeded random corpora' " +
        "(exact equality vs all-pairs truth — filters are pure pruning)"),
    "d25_shared_substrings" -> AuditRow(
      "shared run enumeration over the jaccard shingle table",
      "d08's brute-force row (same shingle table); run semantics via its own oracle rows-check"),
    // ---- BM25 (bm25) ----------------------------------------------------
    "d28_bm25" -> AuditRow(
      "k1/b constants; idf ln((N-df+0.5)/(df+0.5)+1); length norm",
      "GraftSpec: 'd28 BM25 equals a plain-Scala brute-force recomputation' — the " +
        "full ranking recomputed driver-side with the PUBLISHED constants hard-coded " +
        "in the spec (exact equality; a drifted shared constant diverges here)"),
    // ---- quality score (quality-score) ----------------------------------
    "d04_quality_score" -> AuditRow(
      "length/punct/stopword ratio thresholds (Gopher-shape constants)",
      "TrainingDataPipelineSpec: curate stage composition; thresholds are contract " +
        "parameters (any value is 'correct'), drift surfaces as d27/d40 composition breaks"),
    "d27_curate" -> AuditRow(
      "quality ∩ canonical ∩ exact-keeper ∖ near-dup composition",
      "TrainingDataPipelineSpec: stage-by-stage composition vs independently computed sets"),
    "d40_curate_pack" -> AuditRow(
      "d27 composition + d17 packing",
      "TrainingDataPipelineSpec + GraftSpec packing invariants (no token loss, cap respected)"),
    // ---- sign-LSH (sign-lsh-bands) --------------------------------------
    "v08_lsh_neardup" -> AuditRow(
      "md5-parity hyperplanes; 8x8 band codes; cos>=0.4 verify",
      "LshRecallSpec: 'v08 ⊆ v04 exactly; high recall on near-identical pairs' and " +
        "'band planes: >=90% recall on near-identical twins, selective on random " +
        "pairs' — quality contract vs the brute-force truth, independent of the " +
        "plane constants"),
    "v10_embed_dup_clusters" -> AuditRow(
      "connected components over v08's pair graph",
      "v08's rows + GraphProps connected components vs direct recomputation"),
    "s47_stream_embed_neardup" -> AuditRow(
      "v08 bands as streaming state; 8 point lookups; exact-cosine verify",
      "GraftSpec: 's47 embed near-dup equals the batch band join' " +
        "(cross-face identity) + StateBoundSpec bucket bound"),
    // ---- IVF index (ivf-centroids) --------------------------------------
    "v07_ivf_ann" -> AuditRow(
      "label-centroid coarse quantizer; nprobe cell probe; cosine ranking",
      "GraftSpec: 'ANN recall: n_hit equals the direct IVF∩exact overlap, monotone in k' — " +
        "recall vs the exact brute-force truth (v04 spec-layer baseline)"),
    "v18_ann_recall" -> AuditRow(
      "recall@k of v07 against exact top-k",
      "the query IS the independent harness (exact side computed in-plan); " +
        "GraftSpec ANN-recall row pins it against the spec-layer brute force"),
    "v22_ivfpq_ann" -> AuditRow(
      "IVF probe + PQ codebook ADC distance",
      "GraftSpec: 'v22 IVF-PQ composes v07's probe and v13's codebooks " +
        "without drift' (codes + ADC distance recomputed per row, " +
        "candidates subset of probed cells) + v07's recall rows"),
    "v25_filtered_ann" -> AuditRow(
      "metadata pre-filter + IVF probe",
      "RetrievalPipelineSpec: en-filter contract (filter-before-rank, no leakage); v07's rows"),
    "v26_nprobe_curve" -> AuditRow(
      "recall/cost sweep over nprobe",
      "monotonicity is the semantic content; endpoints pinned by v07's recall rows"),
    "v28_diversified_topk" -> AuditRow(
      "4-cell probe; per-cell cap; global top-10; (cos desc, id) tiebreaks",
      "GraftSpec: 'v28 capping and ranking equal a plain-Scala " +
        "recomputation' (cap/rank/top-10 logic recomputed over " +
        "engine-scored candidates + the >=ceil(k/cap) representation " +
        "guarantee); scoring pinned by v07's rows"),
    "s34_stream_ivf_assign" -> AuditRow(
      "broadcast rounded-centroid argmax",
      "GraftSpec: s34 vs v07 assignment equality (cross-face); v09 Lloyd rounding contract"),
    // ---- retrieval pipeline (retrieval-pipeline) ------------------------
    "v30_retrieval_pipeline" -> AuditRow(
      "en-filter; 4-cell probe; DivCap; ServeTau suppression; top-5",
      "RetrievalPipelineSpec: suppression stage load-bearing (fires at every SF with " +
        "margin), en contract, stage composition vs independently computed sets"),
    "s48_stream_serve_topk" -> AuditRow(
      "v30's stages over a streamed per-cell TopN index",
      "v30's rows + StateBoundSpec (state rows == occupied cells) + pinned-batchId read"),
    "s50_stream_serve_tombstones" -> AuditRow(
      "v30's stages twice (tombstone derivation + reduced corpus); delete/resurrect/compaction branches",
      "v30's rows + GraftSpec s50 spec (tombstoned ids never served, buffers re-fill " +
        "to the reduced-corpus truth, resurrection blocked) + StateBoundSpec bound through deletes"),
    "v17_search_expand" -> AuditRow(
      "IVF probe + pseudo-relevance query expansion",
      "v07's recall rows; expansion is set algebra over probed candidates"),
    "v23_range_search" -> AuditRow(
      "IVF probe + cos >= radius cut (range, not top-k)",
      "v07's recall rows; the radius cut is a filter over exactly-scored candidates"),
    "v24_ivf_balance" -> AuditRow(
      "per-cell occupancy histogram of the IVF assignment",
      "GraftSpec: s34/v07 assignment equality; occupancy is count algebra over it"),
    // ---- d06 pair-graph consumers (minhash-bands via the pair CTE) -----
    "d29_pagerank" -> AuditRow(
      "5-round damped power iteration; damping 15/85/100 integer split; " +
        "unit = 10^12/N; left-join zero-contribution default",
      "GraftSpec: 'd29 equals a plain-Scala power iteration on the declared " +
        "pair graph' (exact equality, driver-side integer recomputation, " +
        "mass-movement asserted) + 'PageRank: isolated docs hold the base " +
        "rank, linked docs exceed it' (base-rank and mass-conservation " +
        "properties)"),
    "d38_lpa_communities" -> AuditRow(
      "3 synchronous LPA rounds; (count desc, min label) tiebreak; " +
        "no-neighbor keep-label default",
      "GraftSpec: 'd38 equals a plain-Scala synchronous label propagation' " +
        "(exact equality incl. n_members, label-merge asserted); d06's rows " +
        "for the pair graph"),
    // ---- quality-score consumers ---------------------------------------
    "d34_source_caps" -> AuditRow(
      "per-source token caps over the d04 quality gate",
      "d04's row; the cap is a deterministic keep-rule over exact token counts"),
    // ---- cross-face oracle reuse ----------------------------------------
    "e02_tumbling_daily" -> AuditRow(
      "daily tumbling agg, batch face (oracle text shared with s01/s33/s40)",
      "plain SQL over raw events; Det.dsum decimal contract pinned in DetProps"),
    "s01_stream_tumbling" -> AuditRow(
      "daily tumbling agg (decimal-exact sums)",
      "oracle is plain SQL over raw events (no formula mirroring beyond Det.dsum, " +
        "which DetProps pins vs BigDecimal); cross-face only"),
    "s33_sink_roundtrip" -> AuditRow(
      "s01's agg through a real file sink",
      "s01's row; sink fidelity is the query's own contract (read-back from sink files)"),
    "s40_restart_recovery" -> AuditRow(
      "s01's agg across a checkpoint kill/restart",
      "s01's row + RestartRecoverySpec (restart is load-bearing, batchIds continue)"),
    "e44_funnel_stages" -> AuditRow(
      "view->click->purchase ordered-window chain",
      "FunnelProps: funnel depth vs a direct per-user event-scan recomputation on " +
        "seeded random histories"),
    "s36_stream_funnel" -> AuditRow(
      "e44's reduce over streamed FunnelProcessor depths",
      "e44's row + monotone-depth emission argument (max(stage) == final depth)"),
    "e47_attribution" -> AuditRow(
      "last-touch LOCF window; channel parse; lag",
      "AttribProps: attribution vs a direct per-user scan on seeded random histories"),
    "s37_stream_attribution" -> AuditRow(
      "e47's reduce over streamed AttributionProcessor hits",
      "e47's row + AttribProps"),
    // ---- shard manifest (shard-manifest, d57 text shared with s51) ----
    "d57_shard_manifest" -> AuditRow(
      "salted md5 shard hash (contract-preserving constant); " +
        "balance ratio r4(n_tokens*N, total)",
      "GraftSpec 'd57 equals a plain-Scala brute-force recomputation': " +
        "assignment + manifest + balance recomputed with driver-side " +
        "MessageDigest md5 and BigDecimal HALF_UP (independent hash and " +
        "rounding paths); exact equality, all 16 shards occupied"),
    "s51_stream_shard_manifest" -> AuditRow(
      "same cells as d57 via ShardStatsProcessor ValueState fold",
      "d57's row + StateBoundSpec 's51 state rows == occupied shards, hard-capped " +
        "at ShardN' + GraftSpec cross-face equality (streamed cells == batch cells)"),
    // ---- CUSUM prefix-sum identity (cusum-prefix, e41 text shared
    // verbatim with e57, its DECIMAL(38) arithmetic branch) -------------
    "e41_cusum_changepoint" -> AuditRow(
      "prefix-sum identity C_t = P_t - min(0, min prefix P); n-scaled " +
        "integer residuals; int64 arithmetic + 2n^2*max|c| envelope guard",
      "GraftSpec: 'e57 decimal CUSUM equals e41 on the overlap region and " +
        "runs past the int64 edge' (cross-branch identity on the fixture; " +
        "past the edge the BigInt recomputation is the independent truth); " +
        "DetProps pins r4/fdiv semantics"),
    "e57_cusum_decimal" -> AuditRow(
      "same plan with DECIMAL(38,0) intermediates; 5e33 envelope guard " +
        "(Det.r4DecBound)",
      "GraftSpec: 'e57 decimal CUSUM equals e41 on the overlap region and " +
        "runs past the int64 edge' (exact equality vs a driver-side BigInt " +
        "recomputation — an independent arithmetic path — on a synthetic " +
        "history where e41's int64 guard RAISES)"),
    // ---- Lorenz/Gini concentration (gini-lorenz, e56 text shared
    // verbatim with e58, its DECIMAL(38) arithmetic branch) --------------
    "e56_spend_concentration" -> AuditRow(
      "rank-formula Gini (2*sum(i*x) - (N+1)*sum(x)) / (N*sum(x)); " +
        "SQL-standard ntile decile split; int64 arithmetic + " +
        "3N^2*max|c| envelope guard (FIRES at the 100x probe)",
      "GraftSpec: 'e56 gini equals the mean-absolute-difference identity' " +
        "(the pairwise identity needs no ranking — a drifted rank constant " +
        "diverges); 'e58 decimal gini equals e56 on the overlap region and " +
        "runs past the int64 edge' (cross-branch identity)"),
    "e58_gini_decimal" -> AuditRow(
      "same plan with DECIMAL(38,0) intermediates; 5e33 envelope guard " +
        "(Det.r4DecBound)",
      "GraftSpec: 'e58 decimal gini equals e56 on the overlap region and " +
        "runs past the int64 edge' (exact equality vs a hand-computed " +
        "3-user truth on a synthetic breach where e56's int64 guard " +
        "RAISES; fixture identity of both branches)"),
    // ---- water-filling mixture budget (waterfill-alloc) ----------------
    "d58_mix_budget" -> AuditRow(
      "closed-form capping inequality cap_i*(n-i+1) <= B-P_{i-1} " +
        "(prefix-capped under ascending order); level floor-div; " +
        "B = fdiv(total*3, 4); capped/uncapped branches",
      "GraftSpec 'd58 equals the iterative water-filling algorithm': " +
        "the ITERATIVE remove-capped-and-redistribute loop in plain " +
        "Scala (a different derivation — a drifted inequality or level " +
        "divisor diverges) on the fixture AND synthetic capacity sets " +
        "(one-giant-source, all-equal); both branches asserted present"),
  )
}

class FormulaAuditSpec extends AnyFunSuite {
  import FormulaAudit._

  private def norm(s: String) = s.replaceAll("\\s+", " ").trim

  private lazy val sharing: Set[String] = {
    val nf = fragments.values.map(norm).toSet
    SparkEntry.oracleSql.collect {
      case (q, sql) if nf.exists(norm(sql).contains) => q
    }.toSet
  }

  test("fragments are nonempty and declared modules contribute") {
    assert(fragments.size >= 13)
    fragments.foreach { case (k, v) =>
      assert(norm(v).nonEmpty, s"fragment $k is empty")
    }
  }

  test("every fragment-sharing oracle has an audit registry row") {
    val missing = sharing -- registry.keySet
    assert(missing.isEmpty,
      s"shared-formula queries without an audit row: " +
        s"${missing.toSeq.sorted.mkString(", ")} — every query whose " +
        "oracle reuses a shared fragment needs a FormulaAudit.registry " +
        "row naming its branches and an INDEPENDENT-truth spec " +
        "(the r11 HLL-divisor lesson; see this file's scaladoc)")
  }

  test("no stale or free-floating registry rows") {
    val declared = SparkEntry.oracleSql.keySet
    val stale = registry.keySet -- declared
    assert(stale.isEmpty, s"registry rows for undeclared queries: $stale")
    // every fragment must actually be found in at least one oracle —
    // otherwise the gate silently stopped guarding it (e.g. a fragment
    // definition drifted away from the oracle text that used to embed it)
    val nf = fragments.map { case (k, v) => k -> norm(v) }
    val oracleNorms = SparkEntry.oracleSql.values.map(norm).toSeq
    val unused = nf.collect {
      case (k, v) if !oracleNorms.exists(_.contains(v)) => k
    }
    assert(unused.isEmpty,
      s"shared fragments matching NO declared oracle: $unused")
  }

  test("registry citations resolve to real specs (no phantom truths)") {
    // the builder-session-20 lesson: four registry rows cited truth
    // specs that DID NOT EXIST (d29/d38 "GraphProps power iteration /
    // LPA", d35 "triangle brute force", v28 "guarantees", s47
    // "cross-face equality" — all prose, none backed by a test). An
    // audit row whose cited truth is phantom is worse than no row: it
    // records the blind spot as closed. Mechanized here: every
    // single-quoted test name in a truth must be a substring of a REAL
    // test("...")/property("...") declaration in some OTHER test source
    // (this file is excluded from the corpus — r12's first cut matched
    // the registry's own string literals, making the check vacuous),
    // and every cited *Spec/*Props identifier must be a defined class
    // or object. The quote regex pairs only deliberate citations (an
    // opening ' preceded by whitespace/punctuation, a closing '
    // followed by the same) so possessive apostrophes ("d57's row")
    // cannot mis-pair with a later citation's opening quote. Rows
    // citing tests only in prose cannot be machine-checked — quote the
    // test name.
    val dir = java.nio.file.Paths.get("src/test/scala/graft")
    val files = java.nio.file.Files.list(dir)
    val corpus = try {
      val it = files.iterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "FormulaAuditSpec.scala")
        .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .mkString("\n")
    } finally files.close()
    // the declared test universe: literal test/property names only
    // (grep-verified: every suite in this repo declares names as plain
    // string literals, never interpolated)
    val testNames: Set[String] =
      """(?:test|property)\(\s*"((?:[^"\\]|\\.)*)"""".r
        .findAllMatchIn(corpus).map(_.group(1)).toSet
    assert(testNames.size >= 200,
      s"test-name extraction found only ${testNames.size} names — " +
        "the declaration pattern drifted; fix the regex before trusting " +
        "this gate")
    val citation =
      """(?<=^|[\s(;:—])'([^']{8,200})'(?=[\s).,;+—]|$)""".r
    val truths = registry.map { case (q, r) => q -> r.truth }
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    truths.foreach { case (q, t) =>
      citation.findAllMatchIn(t).map(_.group(1)).foreach { name =>
        if (!testNames.exists(_.contains(name)))
          bad += s"$q cites test '$name' — no test(\"...\")/" +
            "property(\"...\") declaration contains it"
      }
      """\b([A-Z]\w+(?:Spec|Props))\b""".r.findAllMatchIn(t)
        .map(_.group(1)).foreach { suite =>
          if (!corpus.contains(s"class $suite") &&
              !corpus.contains(s"object $suite"))
            bad += s"$q cites suite $suite — no such class/object defined"
        }
    }
    assert(bad.isEmpty, bad.mkString("\n  ", "\n  ", ""))
  }

  test("citation checker is not vacuous (kills a planted phantom)") {
    // the ADVICE-r12 finding: the first cut of the check above passed
    // even for nonexistent tests because the corpus contained this
    // file's own registry literals. Prove the fixed check has teeth by
    // asserting a planted phantom citation FAILS the same predicate the
    // real check uses.
    val dir = java.nio.file.Paths.get("src/test/scala/graft")
    val files = java.nio.file.Files.list(dir)
    val corpus = try {
      val it = files.iterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "FormulaAuditSpec.scala")
        .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .mkString("\n")
    } finally files.close()
    val testNames: Set[String] =
      """(?:test|property)\(\s*"((?:[^"\\]|\\.)*)"""".r
        .findAllMatchIn(corpus).map(_.group(1)).toSet
    val phantom = "zz99 this test name exists nowhere in the suite"
    assert(!testNames.exists(_.contains(phantom)),
      "the planted phantom unexpectedly matched a real test")
    // and possessive apostrophes no longer open a citation: the
    // mis-pairing ADVICE found captured "s row + StateBoundSpec " from
    // "d57's row + StateBoundSpec 's51 ...'"
    val citation =
      """(?<=^|[\s(;:—])'([^']{8,200})'(?=[\s).,;+—]|$)""".r
    val sample = "d57's row + StateBoundSpec 's51 state <= ShardN cells'"
    assert(citation.findAllMatchIn(sample).map(_.group(1)).toSeq ==
      Seq("s51 state <= ShardN cells"))
  }
}
