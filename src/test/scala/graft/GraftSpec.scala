package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  // spark.sql.extensions is a static conf, read from the SparkContext at
  // session creation — the spark-submit-style injection path under test
  // in ExtensionsInjectionSpec (a second same-JVM session could never
  // exercise it, since the context conf is fixed at startup)
  lazy val spark: SparkSession = GraftSession("4", Seq(
    "spark.sql.extensions" -> "org.apache.spark.sql.graft.GraftExtensions"))
  val sf = "/root/testdata/sf0.001"
}

/** Smoke + correctness specs for the operator modules at sf0.001.
  * The DuckDB oracle (driver-run) is the primary gate; these specs cover
  * the non-oracle surfaces: entry(), custom expressions, streaming
  * equivalences, the decoder plumbing, and property-style invariants. */
class GraftSpec extends AnyFunSuite {
  import graft.operators._
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs at sf0.001 and every oracle key exists") {
    val qs = SparkEntry.queries
    val missing = SparkEntry.oracleSql.keySet -- qs.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
    qs.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("d52 = d06 restricted to pairs touching a new arrival (incrementality loses nothing)") {
    import spark.implicits._
    def isOld(id: Long) = id % TextOps.SnapOldMod != TextOps.SnapOldMod - 1
    def isNew(id: Long) = !isOld(id) && id % TextOps.SnapNewMod != TextOps.SnapNewMod - 1
    val full = TextOps.minhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Double]("est_jaccard")))
    // d06 over the whole table, restricted to pairs with a new-arrival
    // endpoint whose partner is in a live snapshot — re-oriented so the
    // new doc leads, phase from the partner's side
    val expected = full.flatMap { case (a, b, j) =>
      if (isNew(a) && isNew(b)) Some((a, b, "batch", j))
      else if (isNew(a) && isOld(b)) Some((a, b, "corpus", j))
      else if (isNew(b) && isOld(a)) Some((b, a, "corpus", j))
      else None
    }.toSet
    val got = TextOps.incrementalNearDup(spark, sf).collect()
      .map(r => (r.getAs[Long]("d_new"), r.getAs[Long]("d_match"),
        r.getAs[String]("phase"), r.getAs[Double]("est_jaccard"))).toSet
    assert(got == expected,
      s"incremental pair set diverged: extra=${got -- expected} missing=${expected -- got}")
  }

  test("v25 pre-filters: k filled from the filtered pool, not a post-filtered top-k") {
    import spark.implicits._
    val v25 = VectorOps.filteredAnn(spark, sf).collect()
    val enIds = Tables.documents(spark, sf).filter($"lang" === "en")
      .select($"doc_id").as[Long].collect().toSet
    assert(v25.forall(r => enIds(r.getAs[Long]("vec_id"))),
      "a non-en vector leaked through the pre-filter")
    // same scoring as the unfiltered probe: any en doc in v07's top-10
    // must appear in v25 with the identical cosine
    val v07 = VectorOps.ivfAnn(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
    val v25Map = v25.map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toMap
    val postFilter = v07.filter { case (id, _) => enIds(id) }
    postFilter.foreach { case (id, c) =>
      assert(v25Map.get(id).contains(c), s"en doc $id scored differently")
    }
    // the distinction is real on this fixture: a post-filter of the
    // unfiltered top-10 under-fills k, the pre-filter fills it
    assert(postFilter.length < 10 && v25.length == 10,
      s"fixture no longer separates pre/post filter: " +
        s"post=${postFilter.length} pre=${v25.length}")
  }

  test("v26 curve is monotone and agrees with v18 at the deployed nprobe") {
    import spark.implicits._
    val curve = VectorOps.nprobeCurve(spark, sf).collect()
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Long]("n_returned"),
        r.getAs[Long]("n_hit"), r.getAs[Double]("recall"),
        r.getAs[Long]("n_scored")))
    assert(curve.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(curve.sliding(2).forall { case Array(a, b) =>
      a._4 <= b._4 && a._5 <= b._5 },
      s"recall/cost not monotone in nprobe: ${curve.toSeq}")
    // the cost axis is the probed population; the fill is its cap
    assert(curve.forall(c => c._2 == math.min(10L, c._5) && c._3 <= c._2))
    // the deployed probe (nprobe=2, the shared ivfIndex/qcells setting)
    // must score identically through v18's recall@10
    val v18at10 = VectorOps.annRecall(spark, sf).collect()
      .find(_.getAs[Long]("k") == 10L).get.getAs[Double]("recall")
    val v26at2 = curve.find(_._1 == 2L).get._4
    assert(v18at10 == v26at2,
      s"v18 recall@10 ($v18at10) != v26 nprobe=2 ($v26at2)")
  }

  test("e52 invariants: deciles partition users evenly, gains end at 1.0") {
    import spark.implicits._
    val rows = Events.decileLift(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    val sizes = rows.map(_.getAs[Long]("n_users"))
    assert(sizes.max - sizes.min <= 1, s"ntile imbalance: ${sizes.toSeq}")
    val convs = rows.map(_.getAs[Long]("n_conv"))
    assert(convs.sum > 0 && convs.sum < sizes.sum,
      "conversion saturated or empty - the lift readout is degenerate")
    assert(rows.last.getAs[Double]("cum_gain") == 1.0)
    val gains = rows.map(_.getAs[Double]("cum_gain"))
    assert(gains.sliding(2).forall { case Array(a, b) => a <= b })
  }

  test("d54 banding curve: cost and recall both rise as bands narrow") {
    import spark.implicits._
    val rows = TextOps.bandingCurve(spark, sf).collect()
      .map(r => (r.getAs[Long]("b"), r.getAs[Long]("n_candidates"),
        r.getAs[Long]("n_hit"), r.getAs[Long]("n_truth")))
    assert(rows.map(_._1).toSeq == Seq(2L, 4L, 8L, 16L))
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 <= b._2 && a._3 <= b._3 },
      s"candidates/hits not monotone in band count: ${rows.toSeq}")
    assert(rows.forall(r => r._3 <= math.min(r._2, r._4)))
    // candidate sets NEST as bands narrow: the layouts' band
    // boundaries refine (8 = 4+4 = 2+2+2+2), so matching a coarse band
    // means matching every sub-band inside it — monotonicity above is
    // structural, and the r=1 blow-up is the curve's whole point
    assert(rows.last._2 > 10L * rows.head._2,
      s"r=1 no longer demonstrates the candidate blow-up: ${rows.toSeq}")
  }

  test("q29 correlations are bounded and cover every brand") {
    import spark.implicits._
    val rows = Relational.brandCorr(spark, sf).collect()
    val nBrands = Tables.part(spark, sf)
      .select($"p_brand").distinct().count()
    assert(rows.length == nBrands)
    rows.foreach { r =>
      val c = r.getAs[Double]("corr_qty_price")
      // NULL only on zero variance; fixture brands all have spread
      assert(c >= -1.0 && c <= 1.0, s"corr out of range: $r")
      assert(r.getAs[Long]("n") > 0)
    }
  }

  test("e53 MAD fence fires on the value tail without flagging the majority") {
    import spark.implicits._
    val rows = Events.valueMadOutliers(spark, sf).collect()
    val n = Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == n)
    rows.foreach { r =>
      val out = r.getAs[Long]("n_outliers")
      // the long-tailed value column must actually exercise the fence,
      // and a sane fence never flags the majority
      assert(out > 0 && out < r.getAs[Long]("n") / 2,
        s"degenerate fence: $r")
      assert(r.getAs[Double]("mad") > 0.0)
    }
  }

  test("e54 binned fences agree with e53's exact ones within one bin width") {
    import spark.implicits._
    val exact = Events.valueMadOutliers(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("median_value"), r.getAs[Double]("mad"),
          r.getAs[Long]("n_outliers"), r.getAs[Long]("n"))).toMap
    val approx = Events.binnedMadOutliers(spark, sf).collect()
    assert(approx.length == exact.size)
    approx.foreach { r =>
      val (med, mad, out, n) = exact(r.getAs[String]("event_type"))
      assert(math.abs(r.getAs[Double]("approx_median") - med) <= 1.0,
        s"median off by more than the bin width: $r vs $med")
      assert(math.abs(r.getAs[Double]("approx_mad") - mad) <= 1.0,
        s"MAD off by more than the bin width: $r vs $mad")
      // the fence moves by < one bin, so flip-able points are only
      // those within a bin of the exact fence
      assert(math.abs(r.getAs[Long]("n_outliers") - out) <= n / 50,
        s"outlier count diverged: $r vs $out")
    }
  }

  test("pricing summary matches a hand-computed slice") {
    import spark.implicits._
    val row = Relational.pricingSummary(spark, sf)
      .filter($"l_returnflag" === "A" && $"l_linestatus" === "F")
      .collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("count_order") > 0)
  }

  test("e50/e51/d50 invariants: RFM partitions all users, MAU7 dominates DAU, overlap is a coefficient") {
    import spark.implicits._
    val seg = Events.rfmSegments(spark, sf).collect()
    val total = Tables.events(spark, sf).select($"user_id").distinct.count()
    assert(seg.map(_.getAs[Long]("n_users")).sum == total,
      "every user lands in exactly one R-F-M segment")
    val mau = Events.slidingMau(spark, sf).collect()
    assert(mau.nonEmpty)
    mau.foreach { r =>
      assert(r.getAs[Long]("mau7") >= r.getAs[Long]("dau"),
        s"trailing-7-day distinct users must dominate the day's DAU: $r")
    }
    val ov = TextOps.sourceOverlap(spark, sf).collect()
    assert(ov.nonEmpty)
    ov.foreach { r =>
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
      assert(r.getAs[Long]("n_common") <=
        math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
      val o = r.getAs[Double]("overlap")
      assert(o > 0.0 && o <= 1.0, s"overlap coefficient out of (0,1]: $r")
    }
  }

  test("exact dedup is idempotent") {
    val once = TextOps.exactDedup(spark, sf)
    // dedup keeps one representative per norm_hash: re-grouping the
    // representatives must be a no-op
    assert(once.groupBy("norm_hash").count().filter("count > 1").count() == 0)
  }

  test("x01's deterministic HLL tracks exact counts within its rsd bound") {
    import spark.implicits._
    val exact = operators.Events.distinctUsers(spark, sf)
      .select($"event_type", $"n_users").as[(String, Long)].collect().toMap
    val approx = operators.Extras.approxDistinct(spark, sf)
      .select($"event_type", $"est_users").as[(String, Long)]
      .collect().toMap
    exact.foreach { case (t, n) =>
      assert(math.abs(approx(t) - n) <= math.max(1, n * 0.20),
        s"$t: approx ${approx(t)} vs exact $n")
    }
  }

  test("rollup grand total equals table count") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf).count()
    val total = Relational.rollupReturns(spark, sf)
      .filter($"returnflag" === "ALL" && $"linestatus" === "ALL")
      .collect()(0).getAs[Long]("n")
    assert(total == li)
  }

  test("decontamination flags only train-split docs, with sane ratios") {
    import spark.implicits._
    val d = TextOps.decontaminate(spark, sf).collect()
    // flagged docs must be in the deterministic train split (hash preds
    // recomputed here exactly as the operator defines them)
    val trainIds = TextOps.sampleSplit(spark, sf) // touches the same split
    assert(trainIds.count() > 0)
    val langById = Tables.documents(spark, sf)
      .select($"doc_id", $"lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    d.foreach { r =>
      val id = r.getAs[Long]("doc_id").toString
      val kb = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sample:$id".getBytes).take(1).map("%02x".format(_)).mkString
      val sb = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes).take(1).map("%02x".format(_)).mkString
      // flagged docs must ALSO be in the deterministic sample (the split
      // only applies to sampled docs): lang-dependent keep threshold
      val kThresh = if (langById(r.getAs[Long]("doc_id")) == "en") "80" else "33"
      assert(kb < kThresh, s"doc $id not in the sample (bucket $kb)")
      assert(sb < "cc", s"doc $id not in train split (bucket $sb)")
      assert(r.getAs[Long]("n_shared") >= 1 &&
        r.getAs[Long]("n_shared") <= r.getAs[Long]("n_ngrams"))
      val c = r.getAs[Double]("contamination")
      assert(c > 0.0 && c <= 1.0)
    }
  }

  test("bigram LM: uniform-repetition doc scores 0 NLL; scores are >= 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val s = TextOps.bigramLm(spark, sf).collect()
    assert(s.nonEmpty)
    s.foreach(r => assert(r.getAs[Double]("avg_nll") >= 0.0))
    // a doc whose every bigram is the corpus-unique continuation of its
    // w1 has P(w2|w1)=1 throughout → avg_nll = 0 exactly; build one
    // in-memory to pin the semantics of the micro-nat arithmetic
    val docs = Seq((1L, "z9q z9q z9q z9q"), (2L, "k7w k7w")).toDF("doc_id", "text")
    val toks = docs.withColumn("toks", split($"text", " "))
    val big = toks.filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(toks)-2),
          g -> struct(toks[g] AS w1, toks[g+1] AS w2))""")).as("b"))
      .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
    val c2 = big.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val joined = big.join(c2, Seq("w1", "w2"))
      .join(big.groupBy($"w1").agg(count(lit(1)).as("c1")), Seq("w1"))
    // every w1 here has exactly one continuation → c1 == c2 everywhere
    assert(joined.filter($"c1" =!= $"c2").count() == 0)
  }

  /** Driver-side reference BPE: classic greedy left-to-right scan per
    * doc — the semantics the distributed gaps-and-islands logic must
    * reproduce exactly. */
  private def refBpe(corpus: Seq[Vector[String]], rounds: Int)
      : Seq[(Long, String, Long, Long)] = {
    var docs = corpus
    (1 to rounds).iterator.map { it =>
      val counts = docs.flatMap(d => d.zip(d.drop(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      if (counts.isEmpty) None else {
        val ((a, b), cnt) =
          counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
        var applied = 0L
        docs = docs.map { d =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < d.length) {
            if (i + 1 < d.length && d(i) == a && d(i + 1) == b) {
              out += s"$a $b"; applied += 1; i += 2
            } else { out += d(i); i += 1 }
          }
          out.result()
        }
        Some((it.toLong, s"$a $b", cnt, applied))
      }
    }.takeWhile(_.isDefined).flatten.toSeq
  }

  private def bpeOf(corpus: Seq[Vector[String]]): Seq[(Long, String, Long, Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = corpus.zipWithIndex
      .map { case (d, i) => (i.toLong + 1L, d.mkString(" ")) }
      .toDF("doc_id", "text").withColumn("toks", split($"text", " "))
    TextOps.bpeMergesFrom(spark, docs).collect().toSeq.map(r =>
      (r.getAs[Long]("it"), r.getAs[String]("merge"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_applied")))
  }

  test("BPE merges resolve overlapping runs greedily (odd offsets only)") {
    // "x x x x x" has 4 adjacent (x,x) pairs but greedy left-to-right
    // merging applies only at positions 1 and 3 → 2 merges
    val corpus = Seq(Vector("x", "x", "x", "x", "x"),
      Vector("y", "z", "y", "z"))
    val out = bpeOf(corpus)
    assert(out.length == 3)
    assert(out.head == ((1L, "x x", 4L, 2L)))
    assert(out == refBpe(corpus, 3))
  }

  test("d49 snapshot diff partitions keys exactly and balances volumes") {
    val ids = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.getLong(0))
    val rows = TextOps.snapshotDiff(spark, sf).collect()
      .map(r => r.getAs[String]("status") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("min_key"))).toMap
    assert(rows.keySet == Set("added", "removed", "changed", "unchanged"))
    // direct per-key status recomputation from the declared split rules
    def statusOf(k: Long): String = {
      val inOld = k % 5 != 4; val inNew = k % 7 != 6
      if (!inOld && inNew) "added"
      else if (inOld && !inNew) "removed"
      else if (k % 3 == 0) "changed" else "unchanged"
    }
    val exp = ids.filter(k => k % 5 != 4 || k % 7 != 6).groupBy(statusOf)
    exp.foreach { case (s, ks) =>
      assert(rows(s)._1 == ks.length, s"count mismatch for $s")
      assert(rows(s)._2 == ks.min, s"min_key mismatch for $s")
    }
  }

  test("d48 fertility telescopes against d36's applied-merge counts") {
    // each applied merge removes exactly one unit from the corpus, so
    // Σ units (d48) = Σ words − Σ applied (d36) — the cross-query
    // invariant that pins both faces of the shared BPE run
    val applied = TextOps.bpeMerges(spark, sf).collect()
      .map(_.getAs[Long]("n_applied")).sum
    val fert = TextOps.tokenizerFertility(spark, sf).collect()
    val words = fert.map(_.getAs[Long]("n_words")).sum
    val units = fert.map(_.getAs[Long]("n_units")).sum
    val merged = fert.map(_.getAs[Long]("n_merged")).sum
    assert(units == words - applied)
    // a merged unit absorbs ≥1 applied merge (a later round can merge
    // a merged unit again), so merged ≤ applied; fixture applies some
    assert(merged > 0 && merged <= applied)
    fert.foreach { r =>
      val (u, w) = (r.getAs[Long]("n_units"), r.getAs[Long]("n_words"))
      assert(r.getAs[Double]("compression") ==
        Math.floorDiv(u * 20000L + w, w * 2L) / 10000.0)
    }
  }

  test("BPE merges stop early when a degenerate corpus runs out of pairs") {
    // both docs collapse to single units in round 1 → rounds 2-3 have
    // no pairs; the engine and the reference both emit ONE row (and
    // the oracle's per-round CTEs go empty at the same point)
    val corpus = Seq(Vector("a", "a"), Vector("a", "a"))
    val out = bpeOf(corpus)
    assert(out == Seq((1L, "a a", 2L, 2L)))
    assert(out == refBpe(corpus, 3))
  }

  test("BPE merges match the reference scan on seeded random corpora") {
    val rnd = new scala.util.Random(20260813L)
    (1 to 8).foreach { _ =>
      val corpus = Seq.fill(1 + rnd.nextInt(3))(
        Vector.fill(2 + rnd.nextInt(9))(if (rnd.nextBoolean()) "a" else "b"))
      assert(bpeOf(corpus) == refBpe(corpus, 3),
        s"divergence on corpus $corpus")
    }
  }

  test("PPJoin pairs match brute-force Jaccard on seeded random corpora") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the prefix + positional filters are pure PRUNING: the pair set
    // must equal the brute-force all-pairs Jaccard >= 0.5 exactly.
    // Small alphabet + short docs force heavy shingle sharing, the
    // regime where an off-by-one in the ceil bounds drops real pairs.
    val rnd = new scala.util.Random(42L)
    def shingles(d: Vector[String]): Set[String] =
      d.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    (1 to 6).foreach { _ =>
      val corpus = (1L to (4 + rnd.nextInt(5)).toLong).map { id =>
        id -> Vector.fill(3 + rnd.nextInt(8))(
          if (rnd.nextBoolean()) "a" else "b")
      }
      val expected = (for {
        (i, di) <- corpus; (j, dj) <- corpus if i < j
        si = shingles(di); sj = shingles(dj)
        inter = (si & sj).size
        uni = (si | sj).size
        if uni > 0 && inter.toDouble / uni >= 0.5
      } yield (i, j)).toSet
      val docs = corpus.map { case (id, d) => (id, d.mkString(" ")) }
        .toDF("doc_id", "text").withColumn("toks", split($"text", " "))
      val got = TextOps.ngramJaccardFrom(docs).collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
      assert(got == expected,
        s"PPJoin diverged from brute force: got $got, want $expected " +
          s"on corpus ${corpus.map(_._2.mkString(" "))}")
    }
  }

  test("SimHash segment banding finds every Hamming-<=1 pair (pigeonhole)") {
    import spark.implicits._
    // signatures engineered around the completeness edge: clusters of
    // sigs differing in exactly 1 bit (must ALL pair), 2 bits (must
    // NOT), plus seeded random 32-bit values
    val rnd = new scala.util.Random(7L)
    val base = rnd.nextLong().abs % (1L << 32)
    val sigs = (Seq(base) ++
      (0 until 32).map(b => base ^ (1L << b)) ++       // hamming 1 to base
      Seq(base ^ 3L, base ^ ((1L << 31) | 1L)) ++      // hamming 2
      Seq.fill(20)(rnd.nextLong().abs % (1L << 32)))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val expected = (for {
      (i, si) <- sigs; (j, sj) <- sigs if i < j
      if java.lang.Long.bitCount(si ^ sj) <= 1
    } yield (i, j)).toSet
    val got = TextOps.simhashPairsFromSigs(sigs.toDF("doc_id", "sig"))
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(got == expected,
      s"banding missed or invented pairs: got ${got.size}, want ${expected.size}")
  }

  test("query registry: no cross-module key collisions, oracles aligned") {
    val maps = Seq(
      graft.operators.Relational.queries, graft.operators.Events.queries,
      graft.operators.TextOps.queries, graft.operators.Extras.queries,
      graft.operators.EventAnalytics.queries,
      graft.operators.VectorOps.queries,
      graft.multimodal.Multimodal.queries,
      graft.streaming.StreamOps.queries,
      graft.sources.FileSources.queries,
      graft.pipeline.TrainingDataPipeline.queries)
    val keys = maps.flatMap(_.keys)
    val dups = keys.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty,
      s"duplicate query keys shadow each other in SparkEntry: $dups")
    assert(SparkEntry.queries.size == keys.size)
    // every oracle refers to a declared query; every non-sketch query
    // has an oracle (x-series are rows-only by design)
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.forall(_.startsWith("x")),
      s"non-sketch queries without an oracle: ${missing.filterNot(_.startsWith("x"))}")
  }

  test("sequence packing conserves tokens and numbers sequences densely") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val packed = TextOps.packSequences(spark, sf)
    val totalPacked = packed.agg(sum($"n_tokens")).collect()(0).getLong(0)
    val totalTokens = Tables.documents(spark, sf)
      .select(size(split($"text", " ")).cast("long").as("n"))
      .agg(sum($"n")).collect()(0).getLong(0)
    assert(totalPacked == totalTokens)
    // Density (seq ids 0..max, no gaps) is only guaranteed while no
    // single doc spans a whole 2048-token window: a spanning doc owns
    // the windows it covers and the next doc STARTS in a later window
    // (packCore's boundary unit test demonstrates the gap). Guard on
    // the fixture so growth with a long doc can't fail this test
    // without any product bug.
    val maxDocTokens = Tables.documents(spark, sf)
      .select(max(size(split($"text", " ")).cast("long"))).collect()(0).getLong(0)
    assume(maxDocTokens <= 2048L,
      s"fixture grew a window-spanning doc ($maxDocTokens tokens); " +
        "density-over-all-windows no longer holds by construction")
    // per source, seq ids are 0..max with no gaps (greedy concatenation
    // cannot skip a window)
    packed.groupBy($"source")
      .agg(min($"seq_id").as("lo"), max($"seq_id").as("hi"),
        countDistinct($"seq_id").as("n"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("lo") == 0L)
        assert(r.getAs[Long]("n") == r.getAs[Long]("hi") + 1)
      }
  }

  test("shared-substring runs: known 12-token overlap → longest=12, 5 windows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc 1: a1..a20; doc 2: 5 fresh tokens ++ a5..a16 (12-token shared
    // run) ++ 3 fresh; doc 3: fully disjoint. The only shared 8-token
    // windows are the 5 inside the run (positions on one diagonal).
    val t1 = (1 to 20).map("a" + _)
    val t2 = (1 to 5).map("x" + _) ++ (5 to 16).map("a" + _) ++
      (1 to 3).map("y" + _)
    val t3 = (1 to 10).map("z" + _)
    val docs = Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "toks")
    val out = TextOps.sharedSubstringsCore(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, 12L, 5L)))
    // a second, disjoint shared run in the same pair must NOT merge
    // with the first: two islands, longest = the bigger one
    val t4 = (1 to 20).map("a" + _) ++ (1 to 10).map("q" + _)
    val t5 = (5 to 16).map("a" + _) ++ (1 to 8).map("w" + _) ++
      (1 to 9).map("q" + _)
    val out2 = TextOps.sharedSubstringsCore(
      Seq((4L, t4), (5L, t5)).toDF("doc_id", "toks"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // runs: a5..a16 (12 tokens → 5 windows) and q1..q9 (9 → 2 windows)
    assert(out2.toSeq == Seq((4L, 5L, 12L, 7L)))
  }

  test("token entropy: repeated-token doc scores 0; uniform doc scores ln(k)") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq("r", "r", "r", "r")),
      (2L, Seq("a", "b", "c", "d"))).toDF("doc_id", "toks")
    val out = TextOps.tokenEntropyCore(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // ln(4) = 1.386294…; micro-nat rounding → 1.3863 at 4 dp
    assert(out == Seq((1L, 4L, 1L, 0.0), (2L, 4L, 4L, 1.3863)))
    // fixture-level invariants: entropy ∈ [0, ln(n_types)] (+ rounding
    // grain) — the upper bound is the uniform distribution
    TextOps.tokenEntropy(spark, sf).collect().foreach { r =>
      val h = r.getAs[Double]("entropy")
      val bound = math.log(r.getAs[Long]("n_types").toDouble)
      assert(h >= 0.0 && h <= bound + 1e-3)
    }
  }

  test("semantic dedup equals brute-force within-cluster pairs") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    // the r14 contract: k = ⌈√n⌉ corpus-derived seeds, SemB=512 rank
    // sub-blocks within a cluster (a no-op at fixture scale — cluster
    // sizes ≈ √n ≪ 512 — asserted below so the pin stays honest)
    val k = math.ceil(math.sqrt(vecs.length.toDouble)).toLong
    assert(k == graft.operators.VectorOps.semK(vecs.length.toLong))
    val seeds = vecs.filter(_._1 < k)
    def assign(v: Array[Double]): Long =
      seeds.map { case (cl, c) => (dot(c, c) - 2.0 * dot(v, c), cl) }
        .min._2
    val byCluster = vecs.groupBy { case (_, v) => assign(v) }
    byCluster.values.foreach(m => assert(m.length <= 512,
      s"fixture cluster of ${m.length} rows — the SemB block cap now " +
        "binds at fixture scale and this brute force must block too"))
    val expected = (for {
      (cl, members) <- byCluster.toSeq
      Array((i1, v1), (i2, v2)) <- members.sortBy(_._1).combinations(2)
      c = cos(v1, v2) if c >= 0.4
    } yield ((cl, i2), (i1, c)))
      .groupBy(_._1)
      .map { case ((cl, drop), hits) =>
        (cl, drop, hits.map(_._2._1).min,
          BigDecimal(hits.map(_._2._2).max)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
    val got = VectorOps.semanticDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == expected)
  }

  test("packing places docs by START token; long docs span windows") {
    import spark.implicits._
    // cap=10: doc 1 (4 tok) starts seq 0; doc 2 (25 tok) STARTS in seq 0
    // (token offset 4) and spans into seqs 1-2; doc 3 (3 tok) starts at
    // offset 29 → seq 2; doc 4 (5 tok) at offset 32 → seq 3
    val docs = Seq(
      (1L, "a", 4L), (2L, "a", 25L), (3L, "a", 3L), (4L, "a", 5L),
      (10L, "b", 12L)).toDF("doc_id", "source", "n_tok")
    val packed = TextOps.packCore(docs, 10L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(packed.toSeq == Seq(
      ("a", 0L, 2L, 29L, 1L, 2L),   // docs 1+2 start in window 0
      ("a", 2L, 1L, 3L, 3L, 3L),    // doc 3 starts in window 2
      ("a", 3L, 1L, 5L, 4L, 4L),    // doc 4 starts in window 3
      ("b", 0L, 1L, 12L, 10L, 10L)  // shard b packs independently
    ))
  }

  test("binned range join equals the direct range join") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the bucketing is an OPTIMIZATION: joining on (bucket) + residual
    // range must produce exactly the rows of the unbinned range join
    val binned = Events.promoRangeJoin(spark, sf)
    val direct = Tables.events(spark, sf)
      .join(Events.promoIntervals(spark),
        $"ts" >= $"p_start" && $"ts" < $"p_end")
      .groupBy($"promo_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        graft.functions.Det.dsum($"value").as("sum_value"))
      .orderBy($"promo_id")
    assert(binned.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(binned).count() == 0)
    assert(binned.count() > 0)
  }

  test("quantized top-k re-rank closely tracks the exact top-10") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val approx = VectorOps.quantizedTopK(spark, sf)
      .select($"vec_id").as[Long].collect().toSet
    val exact = VectorOps.cosineTopK(spark, sf)
      .limit(10).select($"vec_id").as[Long].collect().toSet
    assert(approx.size == 10)
    // int8 quantization at 64 dims keeps candidate ranking close to
    // exact; with a 5x candidate margin (top-50 -> top-10) the re-rank
    // should recover nearly all of the true top-10
    val overlap = (approx & exact).size
    assert(overlap >= 8, s"quantized top-10 overlaps exact top-10 only $overlap/10")
  }

  test("canonical-first near-dup drops copy pairs, keeps cross-doc pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // synthetic corpus: 2 byte-identical copies, 1 near-dup, 1 unrelated
    // (the sf0.01 fixture has no byte-identical texts, so this semantic
    // difference needs a synthetic input to be visible)
    val dir = java.nio.file.Files.createTempDirectory("graft_d22").toString
    Seq(
      (1L, "a b c d e f g h", "en", "src0", 15L),
      (2L, "a b c d e f g h", "en", "src1", 15L),  // exact copy of 1
      (3L, "a b c d e f g x", "en", "src0", 15L),  // near-dup of 1
      (4L, "z q w z q w z q w", "en", "src0", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val all = TextOps.ngramJaccard(spark, dir)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val canon = TextOps.canonicalNearDup(spark, dir)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    // all-pairs sees the copy pair and both its echoes
    assert(all == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // canonical-first collapses doc 2 into doc 1; only the true
    // cross-document near-dup remains
    assert(canon == Set((1L, 3L)))
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  test("repetition signals are bounded and detect a planted repeat") {
    import spark.implicits._
    val reps = TextOps.repetition(spark, sf).collect()
    assert(reps.nonEmpty)
    reps.foreach { r =>
      val f = r.getAs[Double]("dup_3gram_frac")
      assert(f >= 0.0 && f <= 1.0)
      assert(r.getAs[Long]("top_2gram_count") >= 1L)
      assert(r.getAs[Long]("n_distinct_3grams") <= r.getAs[Long]("n_3grams"))
    }
  }

  test("market share is a share: 0 <= mkt_share <= 1 per year") {
    import spark.implicits._
    val rows = Relational.marketShare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Double]("mkt_share")
      assert(s >= 0.0 && s <= 1.0)
      assert(r.getAs[Double]("total_revenue") > 0.0)
    }
  }

  test("dynamic-gap sessions refine fixed-gap sessions, intervals disjoint") {
    import spark.implicits._
    val dyn = Events.dynamicSessions(spark, sf).collect()
    val fixed = Events.sessionWindows(spark, sf).collect()
    assert(dyn.nonEmpty)
    // every dynamic gap is <= the fixed 2 h, so sessions only split more
    assert(dyn.length >= fixed.length)
    assert(dyn.map(_.getAs[Long]("n_events")).sum ==
      fixed.map(_.getAs[Long]("n_events")).sum)
    dyn.groupBy(_.getAs[Long]("user_id")).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_.getAs[java.sql.Timestamp]("s_start").getTime)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[java.sql.Timestamp]("s_end").getTime <=
            b.getAs[java.sql.Timestamp]("s_start").getTime)
        case _ => ()
      }
    }
  }

  test("gap-fill carries the last purchase forward, null before the first") {
    import spark.implicits._
    val rows = Events.gapFill(spark, sf).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"ts", $"event_type", $"value")
      .collect()
      .sortBy(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[Long]("event_id")))
    // sequential reconstruction of LOCF per user
    val expect = scala.collection.mutable.Map.empty[Long, Option[Double]]
    val locf = scala.collection.mutable.Map.empty[Long, Option[Double]]
    ev.foreach { r =>
      val u = r.getAs[Long]("user_id")
      if (r.getAs[String]("event_type") == "purchase")
        locf(u) = Some(math.round(r.getAs[Double]("value") * 100) / 100.0)
      expect(r.getAs[Long]("event_id")) = locf.getOrElse(u, None)
    }
    rows.foreach { r =>
      val got = Option(r.getAs[java.lang.Double]("last_purchase_value"))
        .map(_.doubleValue)
      assert(got == expect(r.getAs[Long]("event_id")),
        s"event ${r.getAs[Long]("event_id")}: $got != ${expect(r.getAs[Long]("event_id"))}")
    }
  }

  test("TWAP stays within each user's value range; intervals cover events-1") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = Events.timeWeightedAvg(spark, sf).collect()
    assert(rows.nonEmpty)
    val stats = Tables.events(spark, sf)
      .groupBy($"user_id")
      .agg(min($"value").as("lo"), max($"value").as("hi"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Double]("lo"), r.getAs[Double]("hi"), r.getAs[Long]("n"))).toMap
    rows.foreach { r =>
      val (lo, hi, n) = stats(r.getAs[Long]("user_id"))
      val tw = r.getAs[Double]("twap")
      // a weighted mean can't leave the value hull (1-cent rounding slack)
      assert(tw >= lo - 0.01 && tw <= hi + 0.01, s"twap $tw outside [$lo,$hi]")
      assert(r.getAs[Long]("n_intervals") == n - 1)
      assert(r.getAs[Long]("tot_us") > 0)
    }
  }

  test("compaction tombstones: one row per surviving user, deletes absent") {
    import spark.implicits._
    val out = Events.compactionTombstones(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("user_id")).distinct.length == out.length)
    assert(out.forall(_.getAs[String]("event_type") != "error"))
    // survivors + tombstoned users == all users with events
    val latest = Events.latestByKey(spark, sf)
    val all = latest.count()
    val tomb = latest.filter($"event_type" === "error").count()
    assert(out.length == all - tomb && tomb > 0)
  }

  test("SCD2: dense versions, seamless intervals, one open version per user") {
    import spark.implicits._
    val rows = Events.scd2Versions(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, vs) =>
      val sorted = vs.sortBy(_.getAs[Long]("version"))
      assert(sorted.map(_.getAs[Long]("version")).toSeq ==
        (1L to sorted.length).toSeq)
      // exactly one open-ended (current) version, and it is the last
      assert(vs.count(_.getAs[Boolean]("is_current")) == 1)
      assert(sorted.last.getAs[Boolean]("is_current"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // no no-op versions, and intervals chain without gaps
          assert(a.getAs[String]("status") != b.getAs[String]("status"))
          assert(a.getAs[java.sql.Timestamp]("valid_to") ==
            b.getAs[java.sql.Timestamp]("valid_from"))
        case _ => ()
      }
    }
  }

  test("recursive subtree rollup covers the whole binary tree from anchor 1") {
    import spark.implicits._
    val byAnchor = Relational.subtreeRollup(spark, sf).collect()
      .map(r => r.getAs[Long]("anchor") ->
        (r.getAs[Long]("n_parts"), r.getAs[Int]("max_depth"))).toMap
    val nParts = Tables.part(spark, sf).filter($"p_partkey" >= 1).count()
    // anchor 1's subtree is every part key >= 1; its height is log2(max)
    assert(byAnchor(1L)._1 == nParts)
    // anchors 2 and 3 partition anchor 1's subtree minus the root
    assert(byAnchor(2L)._1 + byAnchor(3L)._1 == nParts - 1)
    assert(byAnchor(1L)._2 == byAnchor(2L)._2.max(byAnchor(3L)._2) + 1)
  }

  test("novelty: doc 0 fully novel, ratios in (0,1], novel <= grams") {
    import spark.implicits._
    val rows = TextOps.noveltyScore(spark, sf).collect()
    assert(rows.nonEmpty)
    // the first-ingested doc can only contain first-seen shingles
    val first = rows.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Long]("n_novel") == first.getAs[Long]("n_grams"))
    rows.foreach { r =>
      val (g, n) = (r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"))
      assert(g >= 1 && n >= 0 && n <= g)
      val ratio = r.getAs[Double]("novelty")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    // novelty must not be universally 1 — later docs reuse early shingles
    assert(rows.exists(_.getAs[Double]("novelty") < 1.0))
  }

  test("redaction: counts match a JVM-regex recount; masking changes the text") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val pat = "\\b(customer|key|value)\\b".r
    val rows = TextOps.redact(spark, sf).collect()
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val (id, n) = (r.getAs[Long]("doc_id"), r.getAs[Long]("n_masked"))
      val text = docs(id)
      assert(n == pat.findAllIn(text).size, s"doc $id count")
      val origMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      // masked text differs from the original exactly when something matched
      assert((r.getAs[String]("masked_md5") != origMd5) == (n > 0), s"doc $id md5")
    }
    assert(rows.exists(_.getAs[Long]("n_masked") > 0))
  }

  test("source caps: kept set is the maximal quality-first prefix per source") {
    import spark.implicits._
    val rows = TextOps.sourceCaps(spark, sf).collect()
    val cap = 600L
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, docs) =>
      // order docs the way the cap was applied
      val ordered = docs.sortBy(r =>
        (-r.getAs[Double]("quality"), r.getAs[Long]("doc_id")))
      var cum = 0L
      ordered.foreach { r =>
        cum += r.getAs[Long]("n_tokens")
        assert(r.getAs[Long]("cum_tokens") == cum, s"$src cumsum")
        assert(r.getAs[Boolean]("kept") == (cum <= cap), s"$src kept flag")
      }
      // the budget binds: something kept, something dropped at fixture scale
      assert(ordered.head.getAs[Boolean]("kept"), s"$src kept none")
      assert(!ordered.last.getAs[Boolean]("kept"), s"$src dropped none")
    }
  }

  test("ANN recall: n_hit equals the direct IVF∩exact overlap, monotone in k") {
    import spark.implicits._
    val ivf = VectorOps.ivfAnn(spark, sf).collect()
      .map(_.getAs[Long]("vec_id"))  // already ranked (cos DESC, vec_id)
    val exact = VectorOps.cosineTopK(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).take(10)
    val rows = VectorOps.annRecall(spark, sf).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("n_hit"), r.getAs[Double]("recall"))).toMap
    assert(rows.keySet == Set(1L, 5L, 10L))
    Seq(1, 5, 10).foreach { k =>
      val expect = exact.take(k).toSet.intersect(ivf.take(k).toSet).size
      assert(rows(k.toLong)._1 == expect, s"recall@$k hits")
      assert(rows(k.toLong)._2 >= 0.0 && rows(k.toLong)._2 <= 1.0)
    }
    assert(rows(5L)._1 >= rows(1L)._1 && rows(10L)._1 >= rows(5L)._1)
  }

  test("v23 range search: thresholded superset of v07's probed-cell hits") {
    val range = VectorOps.rangeSearch(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Double]("cos")))
    // every returned row clears the radius; ordering is (cos desc, id)
    range.foreach { case (_, _, c) => assert(c >= 0.2) }
    range.sliding(2).foreach {
      case Array(a, b) => assert(a._3 > b._3 || (a._3 == b._3 && a._1 < b._1))
      case _ => ()
    }
    // v07 scans the SAME probed cells: its top-10 hits at or above the
    // radius must all appear (range search never truncates)
    val ivfAtTau = VectorOps.ivfAnn(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Double]("cos")))
      .filter(_._3 >= 0.2)
    assert(ivfAtTau.toSet.subsetOf(range.toSet))
  }

  test("v24 balance report sums to the corpus and repeats one ratio") {
    val rows = VectorOps.ivfBalance(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == n)
    // shares are the exact rationals of the counts; imbalance is one
    // value repeated (max·k/total), ≥ 1 by construction
    val k = rows.length.toLong
    val mx = rows.map(_.getAs[Long]("n_vectors")).max
    val expImb = Math.floorDiv(mx * k * 20000L + n, n * 2L) / 10000.0
    rows.foreach { r =>
      assert(r.getAs[Double]("imbalance") == expImb)
      assert(r.getAs[Double]("share") ==
        Math.floorDiv(r.getAs[Long]("n_vectors") * 20000L + n, n * 2L) / 10000.0)
    }
    assert(expImb >= 1.0)
  }

  test("v22 IVF-PQ composes v07's probe and v13's codebooks without drift") {
    import spark.implicits._
    val ivfpq = VectorOps.ivfPqAnn(spark, sf).collect()
    assert(ivfpq.length == 10)
    // candidates come only from the probed cells — checked against the
    // shared index's OWN probe-cell list (v07's top-10 cell set is NOT
    // an invariant bound: an exact ranking can concentrate in one probe
    // cell while the coarser ADC ranking uses both)
    val cells = ivfpq.map(_.getAs[Int]("cell")).toSet
    val probeCells = VectorOps.ivfIndex(spark, sf)._3.collect()
      .map(_.getAs[Int]("probe_cell")).toSet
    assert(probeCells.size <= 2)
    assert(cells.subsetOf(probeCells))
    // ranking is by (adist, vec_id) — non-decreasing, ties broken by id
    val pairs = ivfpq.map(r =>
      (r.getAs[Double]("adist"), r.getAs[Long]("vec_id")))
    assert(pairs.sameElements(pairs.sortBy(identity)))
    // shared codebooks: any vec_id in both v13's and v22's top-10 has
    // identical codes and ADC distance in both
    val pq = VectorOps.pqAnn(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((0 to 3).map(i => r.getAs[Long](s"c$i")), r.getAs[Double]("adist")))
      .toMap
    ivfpq.foreach { r =>
      pq.get(r.getAs[Long]("vec_id")).foreach { case (codes, adist) =>
        assert((0 to 3).map(i => r.getAs[Long](s"c$i")) == codes)
        assert(r.getAs[Double]("adist") == adist)
      }
    }
  }

  test("as-of nearest equals a direct per-purchase recomputation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.unix_micros
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"user_id", unix_micros($"ts").as("us"),
        $"event_type").collect()
    val views = ev.filter(_.getAs[String]("event_type") == "view")
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("us"))).groupBy(_._1)
    val tol = 60L * 60 * 1000000
    val out = graft.operators.Events.asofNearest(spark, sf).collect()
    val purchases = ev.filter(_.getAs[String]("event_type") == "purchase")
    assert(out.length == purchases.length)
    val got = out.map(r => r.getAs[Long]("purchase_id") ->
      Option(r.getAs[java.lang.Long]("view_id")).map(Long2long)).toMap
    purchases.foreach { pr =>
      val (pid, u, pus) = (pr.getAs[Long]("event_id"),
        pr.getAs[Long]("user_id"), pr.getAs[Long]("us"))
      val cands = views.getOrElse(u, Array.empty)
        .filter(v => math.abs(v._3 - pus) <= tol)
      val expect =
        if (cands.isEmpty) None
        // smallest |Δt|, then latest view ts, then largest view_id
        else Some(cands.minBy(v => (math.abs(v._3 - pus), -v._3, -v._2))._2)
      assert(got(pid) == expect, s"purchase $pid")
    }
    // both contract halves must actually be exercised by the fixture
    assert(out.exists(_.getAs[java.lang.Long]("view_id") == null),
      "no null-padded purchase — tolerance never excluded a view")
    assert(out.exists(_.getAs[java.lang.Long]("view_id") != null),
      "no matched purchase")
  }

  test("PageRank: isolated docs hold the base rank, linked docs exceed it") {
    import spark.implicits._
    val n = Tables.documents(spark, sf).count()
    val unit = 1000000000000L / n
    val base = 15L * unit / 100L
    val linked = TextOps.minhashLsh(spark, sf).collect()
      .flatMap(r => Seq(r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    val ranks = TextOps.pageRank(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank_pico")).toMap
    assert(ranks.size == n)
    ranks.foreach { case (doc, r) =>
      if (linked(doc)) assert(r > base, s"linked doc $doc at base rank")
      else assert(r == base, s"isolated doc $doc not at base rank $base: $r")
    }
    // floor divisions only ever drop mass: total stays under n·unit
    assert(ranks.values.sum <= n * unit)
  }

  test("BM25: ranks dense per term, scores positive and non-increasing") {
    import spark.implicits._
    val rows = TextOps.bm25(spark, sf).collect()
    assert(rows.nonEmpty)
    val byTerm = rows.groupBy(_.getAs[String]("term"))
    assert(byTerm.keySet.subsetOf(TextOps.Bm25Terms.toSet))
    byTerm.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq ==
        (1L to sorted.length).toSeq)
      val scores = sorted.map(_.getAs[Double]("score")).toSeq
      assert(scores.forall(_ > 0.0))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("MMR: 8 distinct picks, pure-relevance first, consistent arithmetic") {
    import spark.implicits._
    val rows = VectorOps.mmrDiversify(spark, sf).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(rows.length == 8)
    val ids = rows.map(_.getAs[Long]("vec_id"))
    assert(ids.distinct.length == 8)
    // rank 1 is the pure-relevance argmax — v01's top hit — and the
    // most relevant pick overall (later marginal scores CAN exceed it
    // when similarities to the selected set are negative, but raw
    // relevance cannot)
    val top1 = VectorOps.cosineTopK(spark, sf).limit(1).collect()
      .head.getAs[Long]("vec_id")
    assert(rows.head.getAs[Long]("vec_id") == top1)
    assert(rows.head.getAs[Long]("maxsim_micro") == 0L)
    assert(rows.head.getAs[Long]("rel_micro") ==
      rows.map(_.getAs[Long]("rel_micro")).max)
    rows.foreach { r =>
      assert(r.getAs[Long]("score_micro") ==
        r.getAs[Long]("rel_micro") - r.getAs[Long]("maxsim_micro"))
    }
  }

  test("search-expand: one embedded seed, 10 distinct neighbors, cos sorted") {
    import spark.implicits._
    val rows = VectorOps.searchExpand(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Long]("seed_id")).distinct.length == 1)
    val seed = rows.head.getAs[Long]("seed_id")
    val ids = rows.map(_.getAs[Long]("neighbor_id"))
    assert(ids.distinct.length == 10 && !ids.contains(seed))
    // the seed must carry an embedding by construction
    assert(Tables.embeddings(spark, sf)
      .filter($"vec_id" === seed).count() == 1)
    val cs = rows.map(_.getAs[Double]("cos"))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
  }

  test("kNN classify: one prediction per label-0 query, votes in 1..5") {
    import spark.implicits._
    val nQueries = Tables.embeddings(spark, sf).filter($"label" === 0).count()
    val out = VectorOps.knnClassify(spark, sf).collect()
    assert(out.length == nQueries)
    assert(out.map(_.getAs[Long]("q_id")).distinct.length == out.length)
    out.foreach { r =>
      val v = r.getAs[Long]("votes")
      assert(v >= 1 && v <= 5)
    }
  }

  test("v20 PCA loading aligns with a double-precision eigenvector") {
    import spark.implicits._
    val out = VectorOps.pcaPower(spark, sf).collect()
      .sortBy(_.getAs[Long]("dim_idx"))
    val load = out.map(_.getAs[Long]("loading_micro").toDouble)
    assert(out.length == 64)
    // renormalized to max|v| = 1e6 every round
    assert(load.map(math.abs).max == 1e6)
    // reference: double-precision covariance + the SAME number of
    // power-iteration rounds (the declared contract is the
    // deterministic k-round iterate — the fixture embeddings are
    // near-isotropic, so ε-convergence to THE eigenvector is not the
    // contract; the integer pipeline must track the real iteration)
    val vecs = Tables.embeddings(spark, sf)
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vecs.length; val d = 64
    val mean = Array.tabulate(d)(j => vecs.map(_(j)).sum / n)
    val cov = Array.tabulate(d, d)((j, k) =>
      vecs.map(v => (v(j) - mean(j)) * (v(k) - mean(k))).sum)
    def iterate(rounds: Int): Array[Double] = {
      var v = Array.fill(d)(1.0)
      for (_ <- 1 to rounds) {
        val w = Array.tabulate(d)(j =>
          (0 until d).map(k => cov(j)(k) * v(k)).sum)
        v = w.map(_ / w.map(math.abs).max)
      }
      v
    }
    def cosOf(a: Array[Double], b: Array[Double]): Double =
      math.abs(a.zip(b).map { case (x, y) => x * y }.sum) /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    assert(cosOf(load, iterate(VectorOps.PcaIters)) > 0.999,
      "integer iterate diverged from the double-precision iteration")
    // power-iteration property: the Rayleigh quotient never decreases
    def rayleigh(v: Array[Double]): Double = {
      val av = Array.tabulate(d)(j => (0 until d).map(k => cov(j)(k) * v(k)).sum)
      v.zip(av).map { case (x, y) => x * y }.sum / v.map(x => x * x).sum
    }
    assert(rayleigh(load) > rayleigh(Array.fill(d)(1.0)),
      "iterating did not improve the Rayleigh quotient")
  }

  test("e39 rolling anomaly equals a direct trailing-20 recomputation") {
    import spark.implicits._
    val got = Events.rollingAnomalies(spark, sf).collect()
    assert(got.length <= 20 && got.nonEmpty)
    // direct recomputation from the raw events, per user in time order
    val byUser = Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"value").collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[Long]("event_id"),
        math.round(r.getAs[Double]("value") * 100)))
      .groupBy(_._1)
    val scores = byUser.values.flatMap { evs =>
      val s = evs.sortBy(e => (e._2, e._3))
      s.indices.drop(20).flatMap { i =>
        val win = s.slice(i - 20, i).map(_._4)
        val (sx, sxx) = (win.sum, win.map(v => v * v).sum)
        val dev = 20L * s(i)._4 - sx
        val den = 20L * sxx - sx * sx
        if (den > 0) Some(s(i)._3 -> (dev * dev, den)) else None
      }
    }.toMap
    got.foreach { r =>
      val (num, den) = scores(r.getAs[Long]("event_id"))
      val z2 = ((num * 20000L + den) / (den * 2L)) / 10000.0
      assert(r.getAs[Double]("z2") == z2)
    }
    // the declared rows are the global top-20: no recomputed score
    // beats the smallest reported one (compared after the same 4-dp
    // rounding the query ranks by; ties lose on event_id)
    def z2r(num: Long, den: Long): Double =
      ((num * 20000L + den) / (den * 2L)) / 10000.0
    val minReported = got.map(_.getAs[Double]("z2")).min
    val reported = got.map(_.getAs[Long]("event_id")).toSet
    scores.foreach { case (id, (num, den)) =>
      if (!reported.contains(id))
        assert(z2r(num, den) <= minReported, s"event $id")
    }
  }

  test("e40 grid interpolation stays between its neighbor values") {
    import spark.implicits._
    val out = Events.gridInterpolate(spark, sf).collect()
    assert(out.nonEmpty)
    // every grid point lies strictly inside its user's event span and
    // every interpolated value within the user's [min, max] value range
    val span = Tables.events(spark, sf).groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.min($"ts").as("t0"),
        org.apache.spark.sql.functions.max($"ts").as("t1"),
        org.apache.spark.sql.functions.min($"value").as("lo"),
        org.apache.spark.sql.functions.max($"value").as("hi"))
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[java.sql.Timestamp]("t0"), r.getAs[java.sql.Timestamp]("t1"),
          r.getAs[Double]("lo"), r.getAs[Double]("hi"))).toMap
    out.foreach { r =>
      val (t0, t1, lo, hi) = span(r.getAs[Long]("user_id"))
      val g = r.getAs[java.sql.Timestamp]("grid_ts")
      assert(g.after(t0) && !g.after(t1))
      val v = r.getAs[Double]("interp_value")
      // cents rounding of the endpoints can nudge the bound by ±0.01
      assert(v >= lo - 0.01 && v <= hi + 0.01)
    }
  }

  test("e41 CUSUM equals the direct max(0, C+y) recursion per user") {
    import spark.implicits._
    val got = Events.cusumChangepoint(spark, sf).collect()
    val byUser = Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"value").collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[Long]("event_id"),
        math.round(r.getAs[Double]("value") * 100)))
      .groupBy(_._1)
    assert(got.length == byUser.size)
    got.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val s = byUser(u).sortBy(e => (e._2, e._3))
      val n = s.length.toLong
      val sx = s.map(_._4).sum
      var c = 0L; var cmax = 0L; var arg: (Long, Long) = (0L, 0L)
      s.foreach { e =>
        c = math.max(0L, c + (n * e._4 - sx))
        if (c > cmax) { cmax = c; arg = (e._2, e._3) }
      }
      assert(r.getAs[Long]("n_events") == n)
      val den = n * 100L
      val want = ((cmax * 20000L + den) / (den * 2L)) / 10000.0
      assert(r.getAs[Double]("cusum_max") == want)
      if (cmax > 0) {
        assert(r.getAs[java.sql.Timestamp]("cp_ts").getTime == arg._1)
        assert(r.getAs[Long]("cp_event_id") == arg._2)
      }
    }
  }

  test("e42 OHLC bars: invariants hold and ticks partition exactly") {
    import spark.implicits._
    val out = Events.ohlcBars(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (o, h, l, c) = (r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"))
      assert(l <= o && o <= h && l <= c && c <= h && l <= h)
      assert(r.getAs[Long]("n_ticks") >= 1)
    }
    // every event lands in exactly one bar
    assert(out.map(_.getAs[Long]("n_ticks")).sum ==
      Tables.events(spark, sf).count())
    // bars are unique per (user, day)
    val keys = out.map(r =>
      (r.getAs[Long]("user_id"), r.getAs[java.sql.Date]("day").toString))
    assert(keys.distinct.length == keys.length)
  }

  test("e43 seasonality equals a direct per-user profile recomputation") {
    import spark.implicits._
    val out = Events.seasonality(spark, sf).collect()
    val evs = Tables.events(spark, sf)
      .select($"user_id", $"ts", $"value").collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("ts").toInstant
          .atZone(java.time.ZoneOffset.UTC).getHour.toLong,
        math.round(r.getAs[Double]("value") * 100)))
      .groupBy(_._1)
    assert(out.length == evs.size)
    def r0(num: Long, den: Long): Long = Math.floorDiv(2 * num + den, 2 * den)
    out.foreach { row =>
      val rows = evs(row.getAs[Long]("user_id"))
      val n = rows.length.toLong
      val s = rows.map(_._3).sum
      val prof = rows.groupBy(_._2).map { case (h, xs) =>
        h -> (xs.length.toLong, xs.map(_._3).sum) }
      val ssRes = rows.map { case (_, h, x) =>
        val (cb, sb) = prof(h); val r = r0(cb * x - sb, cb); r * r }.sum
      val ssTot = rows.map { case (_, _, x) =>
        val t = r0(n * x - s, n); t * t }.sum
      val den = math.max(ssTot, 1L)
      val want = (((ssTot - ssRes) * 20000L + den) / (den * 2L)) / 10000.0
      assert(row.getAs[Long]("n_events") == n)
      assert(row.getAs[Double]("strength") == want)
      val hod = row.getAs[Long]("peak_hod")
      assert(hod >= 0 && hod <= 23)
      // the peak hour's mean dominates every bucket (floored micro mean)
      val (pc, ps) = prof(hod)
      val peakMean = Math.floorDiv(ps * 1000000L, pc)
      prof.foreach { case (h, (cb, sb)) =>
        val m = Math.floorDiv(sb * 1000000L, cb)
        assert(m < peakMean || (m == peakMean && h >= hod))
      }
    }
  }

  test("v21 truncated recall: bounded hits, exact harness rows") {
    import spark.implicits._
    val out = VectorOps.truncatedRecall(spark, sf).collect()
    assert(out.map(_.getAs[Long]("k")).toSeq == Seq(1L, 5L, 10L))
    out.foreach { r =>
      val (k, h) = (r.getAs[Long]("k"), r.getAs[Long]("n_hit"))
      assert(h >= 0 && h <= k)
      assert(r.getAs[Double]("recall") ==
        ((h * 20000L + k) / (k * 2L)) / 10000.0)
    }
  }

  test("d33 Zipf slope equals a plain-Scala brute-force recomputation") {
    import spark.implicits._
    // independent truth for the micro-rounded-log integer OLS (the
    // formula whose negative numerator caught the fdiv floor/truncate
    // divergence live in builder-session 9): counts, ranks, the 1e4
    // log freeze and the OLS rational all recomputed driver-side
    val toks = Tables.documents(spark, sf)
      .select($"lang", $"text").as[(String, String)].collect()
      .flatMap { case (l, t) => t.split(" ", -1).map(l -> _) }
    def fdiv(a: BigInt, b: BigInt): BigInt = {
      // FLOOR division (BigInt's / truncates toward zero)
      val q = a / b
      if (a % b != 0 && (a < 0) != (b < 0)) q - 1 else q
    }
    // Det.r4 semantics exactly: fdiv(num*20000 + den, den*2) / 1e4
    def r4(num: BigInt, den: BigInt): Double =
      fdiv(num * 20000 + den, den * 2).toDouble / 10000.0
    def micro(x: Double): Long =
      BigDecimal(math.log(x) * 1e4)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val truth = toks.groupBy(_._1).toSeq.map { case (lang, ts) =>
      val ranked = ts.groupBy(_._2).view.mapValues(_.size.toLong)
        .toSeq.sortBy { case (tok, c) => (-c, tok) }.take(100)
      val xy = ranked.zipWithIndex.map { case ((_, c), i) =>
        (micro((i + 1).toDouble), micro(c.toDouble))
      }
      val n = BigInt(xy.size)
      val sx = BigInt(xy.map(_._1).sum); val sy = BigInt(xy.map(_._2).sum)
      val sxy = xy.map(p => BigInt(p._1) * BigInt(p._2)).sum
      val sxx = xy.map(p => BigInt(p._1) * BigInt(p._1)).sum
      (lang, xy.size.toLong, r4(n * sxy - sx * sy, n * sxx - sx * sx))
    }.sortBy(_._1)
    val got = TextOps.zipfSlope(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    assert(got == truth)
    // slopes must be negative (Zipf) — the branch the floor bug hit
    assert(got.forall(_._3 < 0))
  }

  test("e40 grid interpolation equals a plain-Scala brute-force recomputation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, unix_micros}
    // independent truth for the interpolation formula and the grid/tie
    // rules the oracle mirrors (midnights strictly inside the span,
    // event-at-midnight = previous neighbor, floor division on a
    // possibly-negative delta): recomputed driver-side from raw micros
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3, r._4)).sortBy(r => (r._1, r._2)))
      .toMap
    val day = 86400000000L
    val truth = ev.toSeq.sortBy(_._1).flatMap { case (u, rows) =>
      val t0 = rows.head._1; val t1 = rows.last._1
      Iterator.iterate(Math.floorDiv(t0, day) * day + day)(_ + day)
        .takeWhile(_ <= t1)
        .flatMap { g =>
          val prev = rows.filter(_._1 <= g).lastOption
          val next = rows.find(_._1 > g)
          for (p <- prev; nx <- next) yield {
            val c = p._3 + Math.floorDiv(
              (nx._3 - p._3) * (g - p._1), nx._1 - p._1)
            (u, g, c / 100.0)
          }
        }.toSeq
    }
    val got = graft.operators.Events.gridInterpolate(spark, sf)
      .select($"user_id", unix_micros($"grid_ts"), $"interp_value")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == truth)
    assert(got.nonEmpty)
  }

  test("d16/d53 LM scores equal a plain-Scala brute-force recomputation") {
    import spark.implicits._
    // independent truth for the two mirrored LM formulas (d16's
    // corpus-bigram nll, d53's add-one-smoothed reference nll + keep
    // threshold): everything recomputed driver-side — counts from raw
    // token pairs, micro-nats via math.log + HALF_UP, the average via
    // the integer half-up division spelled out locally
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)].collect()
      .map { case (id, t, l) => (id, t.split(" ", -1).toSeq, l) }
    def bigrams(toks: Seq[String]) =
      if (toks.size < 2) Seq.empty else toks.sliding(2).map(p => (p(0), p(1))).toSeq
    val byDoc = docs.map { case (id, toks, _) => id -> bigrams(toks) }
      .filter(_._2.nonEmpty).toSeq.sortBy(_._1)
    def microNll(x: Double): Long =
      BigDecimal(math.log(x) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def avg4(sum: Long, n: Long): Double =
      ((sum * 20000L + n * 1000000L) / (n * 2000000L)) / 10000.0
    // d16: corpus-trained LM
    val all = byDoc.flatMap(_._2)
    val c2 = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = all.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val d16Truth = byDoc.map { case (id, bs) =>
      val micros = bs.map(b => microNll(c1(b._1).toDouble / c2(b)))
      (id, bs.size.toLong, avg4(micros.sum, bs.size.toLong))
    }
    val d16Got = TextOps.bigramLm(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(d16Got == d16Truth)
    // d53: reference LM (en docs), add-one smoothing over head vocab V
    val refBs = docs.filter(_._3 == "en").flatMap(d => bigrams(d._2)).toSeq
    val rc2 = refBs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rc1 = refBs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val v = rc1.size.toLong
    val d53Truth = byDoc.map { case (id, bs) =>
      val micros = bs.map { b =>
        microNll((rc1.getOrElse(b._1, 0L) + v).toDouble /
          (rc2.getOrElse(b, 0L) + 1L))
      }
      val a = avg4(micros.sum, bs.size.toLong)
      (id, bs.size.toLong, a, a <= 3.4)
    }
    val d53Got = TextOps.referenceLmFilter(spark, sf)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(d53Got == d53Truth)
    // the keep threshold must actually split the fixture
    assert(d53Got.map(_._4).toSet == Set(true, false))
  }

  test("d55 binned quantiles within one bin width of the exact type-1 values") {
    import spark.implicits._
    // the x02/e54 one-bin-width discipline applied to the remaining
    // member of the binned family: exact per-source type-1 quantiles
    // recomputed from the raw lengths (rank via float ceil — an
    // independent derivation of the mirrored fdiv(n*p+99, 100) target)
    val bySource = Tables.documents(spark, sf)
      .select($"source", $"n_chars".cast("long")).as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val got = TextOps.sourceLengthQuantiles(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (src, pct, n, chars) =>
      val ls = bySource(src)
      assert(n == ls.length.toLong)
      val tgt = math.max(1L, math.ceil(n * pct / 100.0).toLong)
      val exact = ls(tgt.toInt - 1)
      assert(math.abs(chars - exact) <= 100L,
        s"$src p$pct: $chars vs exact $exact beyond one bin width")
    }
  }

  test("d28 BM25 equals a plain-Scala brute-force recomputation") {
    import spark.implicits._
    // independent truth for the Okapi formula the oracle MIRRORS: the
    // whole ranking recomputed in plain Scala with the PUBLISHED
    // constants hard-coded here (k1=1.2, b=0.75, the ln(1+...) idf) —
    // a drifted constant or a reshaped formula in the shared SQL text
    // diverges against this even while the hash gate stays green. The
    // double ops replicate the column expression's evaluation order,
    // so equality is exact (same JVM, same IEEE sequence).
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val dl = docs.map { case (id, toks) => id -> toks.size.toLong }.toMap
    val nDocs = docs.length.toLong
    val sumDl = dl.values.sum
    val terms = TextOps.Bm25Terms
    val tf = (for ((id, toks) <- docs; t <- terms;
                   c = toks.count(_ == t).toLong; if c > 0)
      yield (t, id, c)).toSeq
    val df = tf.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def round4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val truth = tf.map { case (t, id, c) =>
      val idf = math.log(1.0 + (nDocs - df(t) + 0.5) / (df(t) + 0.5))
      val score = idf * (c * (1.2 + 1.0)) /
        (c + 1.2 * ((1.0 - 0.75) + 0.75 * dl(id) * nDocs / sumDl))
      (t, id, round4(score))
    }.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
        .map { case ((_, id, s), i) => (t, i + 1L, id, s) }
    }.sortBy(r => (r._1, r._2))
    val got = TextOps.bm25(spark, sf)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == truth)
  }

  test("d45/d56 equal a plain-Scala brute-force recomputation") {
    import spark.implicits._
    // independent truth for the chunk grid AND the banded chunk-dedup
    // rollup: everything recomputed in plain Scala collections with
    // java MessageDigest md5 (an independent hash path — a drifted
    // grid/banding/cap/threshold constant in the mirrored SQL cannot
    // hide here)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val C = 32; val S = 16
    // d45: grid + tail clamp + chunk hash
    val gridTruth = docs.flatMap { case (id, toks) =>
      (0 to (toks.size - 1) / S).map { i =>
        val chunk = toks.slice(i * S, i * S + C)
        (id, i.toLong, (i * S).toLong, chunk.size.toLong,
          md5hex(chunk.mkString(" ")))
      }
    }.sortBy(r => (r._1, r._2)).toSeq
    val gridGot = TextOps.chunkOverlap(spark, sf)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(gridGot == gridTruth)
    // d56: positional sub-hash banding under the df cap, >=2-position
    // chunk pairs cross-doc, per-doc rollup + trim rule
    val full = docs.flatMap { case (id, toks) =>
      (0 to (toks.size - 1) / S)
        .map(i => (id, i.toLong, toks.slice(i * S, i * S + C)))
        .filter(_._3.size == C)
    }
    val subs = full.flatMap { case (id, ci, chunk) =>
      (0 until 4).map(j =>
        (j, md5hex(chunk.slice(j * 8, j * 8 + 8).mkString(" "))) ->
          ((id, ci)))
    }
    val buckets = subs.groupBy(_._1).filter(_._2.length <= 50)
    val posMatches = buckets.values.toSeq.flatMap { b =>
      val cs = b.map(_._2).toSeq
      for (x <- cs; y <- cs; if x._1 < y._1) yield (x, y)
    }.groupBy(identity).view.mapValues(_.size)
    val flagged = posMatches.collect {
      case ((x, y), n) if n >= 2 => Seq(x, y)
    }.flatten.toSet
    val rollupTruth = full.groupBy(_._1).toSeq.map { case (id, cs) =>
      val nd = cs.count(c => flagged((c._1, c._2))).toLong
      val nc = cs.length.toLong
      val frac = BigDecimal(nd * 10000L)./(BigDecimal(nc))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong / 10000.0
      (id, nc, nd, frac, if (nd * 2 > nc) "trim" else "keep")
    }.sortBy(_._1)
    val rollupGot = TextOps.chunkDupRollup(spark, sf)
      .as[(Long, Long, Long, Double, String)].collect().toSeq
    assert(rollupGot == rollupTruth)
    // the fixture must exercise the interesting branches: some
    // duplication found, and both keep AND trim decisions present
    assert(rollupGot.exists(_._3 > 0), "no chunk near-dups found")
    assert(rollupGot.map(_._5).toSet == Set("keep", "trim"),
      s"only ${rollupGot.map(_._5).toSet} decisions — threshold untested")
  }

  test("d57 equals a plain-Scala brute-force recomputation") {
    import spark.implicits._
    // independent truth for the shard manifest: assignment, totals,
    // and the balance ratio recomputed in plain Scala with java
    // MessageDigest md5 (independent hash path) and BigDecimal HALF_UP
    // (independent rounding path) — a drifted salt, modulus, or r4
    // constant in the mirrored SQL cannot hide here
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"n_chars")
      .as[(Long, String, Long)].collect()
    val N = TextOps.ShardN
    val per = docs.map { case (id, t, nc) =>
      val shard = java.lang.Long.parseLong(
        md5hex(s"shard:$id").substring(0, 8), 16) % N
      (shard, t.split(" ", -1).length.toLong, nc)
    }.groupBy(_._1).toSeq.map { case (sh, xs) =>
      (sh, xs.length.toLong, xs.map(_._2).sum, xs.map(_._3).sum)
    }.sortBy(_._1)
    val total = per.map(_._3).sum
    val truth = per.map { case (sh, nd, nt, nb) =>
      (sh, nd, nt, nb, (BigDecimal(nt * N) / BigDecimal(total))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = TextOps.shardManifest(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == truth)
    // uniform hashing must occupy every shard at fixture scale —
    // otherwise the balance audit is vacuous
    assert(got.size.toLong == N, s"only ${got.size} of $N shards occupied")
  }

  test("d58 equals the iterative water-filling algorithm") {
    import spark.implicits._
    // independent truth for the closed-form capping inequality: the
    // ITERATIVE remove-capped-and-redistribute loop — a different
    // derivation (no prefix sums, no rank inequality), so a drifted
    // closed-form constant diverges here while the mirrored oracle
    // stays green
    def waterfill(caps: Map[String, Long], b: Long): Map[String, (Long, Boolean)] = {
      val out = scala.collection.mutable.Map[String, (Long, Boolean)]()
      var budget = b
      var active = caps
      var done = false
      while (!done && active.nonEmpty) {
        val level = budget / active.size
        val newly = active.filter(_._2 <= level)
        if (newly.isEmpty) {
          active.keys.foreach(k => out(k) = (level, false))
          done = true
        } else {
          newly.foreach { case (k, c) => out(k) = (c, true); budget -= c }
          active = active -- newly.keys
        }
      }
      out.toMap
    }
    def truthRows(caps: Map[String, Long]): Seq[(String, Long, Long, Long, Double)] = {
      val b = caps.values.sum * 3L / 4L
      val alloc = waterfill(caps, b)
      caps.toSeq.sortBy(_._1).map { case (l, c) =>
        val (a, capped) = alloc(l)
        (l, c, a, if (capped) 1L else 0L, (BigDecimal(a) / BigDecimal(c))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    // fixture: capacities recomputed from raw text, driver-side
    val caps = Tables.documents(spark, sf)
      .select($"lang", $"text").as[(String, String)].collect()
      .groupBy(_._1).map { case (l, xs) =>
        l -> xs.map(_._2.split(" ", -1).length.toLong).sum
      }
    val got = TextOps.mixBudget(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == truthRows(caps))
    // the fixture must exercise BOTH branches (low-resource langs
    // capped at capacity, en uncapped at the level)
    assert(got.exists(_._4 == 1L) && got.exists(_._4 == 0L),
      s"only ${got.map(_._4).toSet} branches on the fixture")
    // synthetic capacity sets through the SAME closed form via the
    // mixBudgetFrom seam: one-giant (all others capped), all-equal
    // (none capped), and an exact cap==level tie
    val synth = Seq(
      Map("a" -> 10L, "b" -> 10L, "c" -> 1000L),
      Map("a" -> 100L, "b" -> 100L, "c" -> 100L, "d" -> 100L),
      Map("a" -> 5L, "b" -> 10L))
    synth.foreach { caps =>
      val df = caps.toSeq.toDF("lang", "n_tokens")
      val got = TextOps.mixBudgetFrom(df)
        .as[(String, Long, Long, Long, Double)].collect().toSeq
      assert(got == truthRows(caps), s"closed form != iterative on $caps")
    }
  }

  test("d29 equals a plain-Scala power iteration on the declared pair graph") {
    import spark.implicits._
    // independent truth for the ITERATIVE family's mirrored-oracle
    // class (the d16/d53/d33 discipline extended to the graph loops):
    // the full 5-round damped power iteration recomputed in plain
    // Scala maps from the DECLARED d06 pair set — a drifted damping
    // constant (15/85/100), unit, iteration count, or left-join
    // default diverges here while the unrolled-CTE oracle stays green.
    // (The pair set itself is pinned by the d06-family rows.)
    val n = Tables.documents(spark, sf).count()
    val unit = 1000000000000L / n
    val base = 15L * unit / 100L
    val pairs = TextOps.minhashLsh(spark, sf)
      .select($"d1", $"d2").as[(Long, Long)].collect()
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = adj.groupBy(_._1).map { case (k, es) => k -> es.length.toLong }
    val docs = Tables.documents(spark, sf)
      .select($"doc_id").as[Long].collect().sorted
    var r = docs.map(_ -> unit).toMap
    for (_ <- 1 to 5) {
      val contrib = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      adj.foreach { case (src, dst) => contrib(dst) += r(src) / deg(src) }
      r = docs.map(id => id -> (base + 85L * contrib(id) / 100L)).toMap
    }
    val got = TextOps.pageRank(spark, sf).as[(Long, Long)].collect().toSeq
    assert(got == docs.toSeq.map(id => (id, r(id))))
    // the iteration must move SOME mass, or the pin is vacuous
    assert(got.exists(_._2 > base), "no doc above base rank — no mass moved")
  }

  test("d38 equals a plain-Scala synchronous label propagation") {
    import spark.implicits._
    // same class as the d29 pin: 3 synchronous LPA rounds with the
    // (count desc, min label) tiebreak recomputed in plain Scala from
    // the declared pair set — a drifted round count, a sequential
    // (non-synchronous) update, or a flipped tiebreak diverges here
    val pairs = TextOps.minhashLsh(spark, sf)
      .select($"d1", $"d2").as[(Long, Long)].collect()
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val nodes = edges.map(_._1).distinct.sorted
    var lab = nodes.map(x => x -> x).toMap
    for (_ <- 1 to 3) {
      val frozen = lab
      val newlab = edges.groupBy(_._2).map { case (d2, es) =>
        val best = es.groupBy(e => frozen(e._1))
          .toSeq.map { case (l, xs) => (xs.length, -l) }.max
        d2 -> -best._2
      }
      lab = lab.map { case (nd, l) => nd -> newlab.getOrElse(nd, l) }
    }
    val members = lab.values.toSeq.groupBy(identity)
      .map { case (l, xs) => l -> xs.size.toLong }
    val truth = nodes.toSeq.map(nd => (nd, lab(nd), members(lab(nd))))
    val got = TextOps.labelPropagation(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == truth)
    // densely-linked groups must actually merge labels, or the pin
    // only ever exercises the identity labeling
    assert(lab.exists { case (nd, l) => l != nd })
  }

  test("q22 equals a plain-Scala binary-tree walk") {
    import spark.implicits._
    // independent truth for the recursive-CTE rollup: the implicit
    // binary assembly tree walked with an explicit BFS in plain Scala
    // (no UnionLoop, no SQL) — a drifted child rule (2k/2k+1), a lost
    // recursion level, or a double-counted anchor diverges here
    val parts = Tables.part(spark, sf)
      .select($"p_partkey", $"p_retailprice").as[(Long, Double)]
      .collect().toMap
    val truth = (1L to 7L).map { anchor =>
      var frontier = Seq(anchor)
      var depth = 0
      var all = Vector.empty[(Long, Int)]
      while (frontier.nonEmpty) {
        all ++= frontier.map(_ -> depth)
        frontier = frontier.flatMap(k => Seq(2 * k, 2 * k + 1))
          .filter(parts.contains)
        depth += 1
      }
      val price = all.map { case (k, _) =>
        BigDecimal(parts(k)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      (anchor, all.size.toLong, all.map(_._2).max,
        BigDecimal(price.toDouble)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = Relational.subtreeRollup(spark, sf)
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(got == truth)
    // the walk must recurse multiple levels from anchor 1
    assert(truth.head._3 >= 3, s"tree height ${truth.head._3} too shallow")
  }

  // plain-Scala Lloyd's (k = 4, iters = 3 — constants INTENTIONALLY
  // duplicated from the main side so a silent drift there fails the
  // specs): the independent truth shared by the v09 and v19 pins
  private def plainRound6(x: Double): Double = BigDecimal(x)
    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def plainDot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }
  private def plainLloyd(vecs: Array[(Long, Array[Double])])
      : (Array[(Long, Long)], Seq[(Long, Array[Double])]) = {
    var cents: Seq[(Long, Array[Double])] = vecs.filter(_._1 < 4L)
      .map { case (id, v) => id -> v.map(plainRound6) }.toSeq
    var assigned: Array[(Long, Long)] = null
    for (_ <- 1 to 3) {
      assigned = vecs.map { case (id, v) =>
        val best = cents.map { case (cl, c) =>
          val cc = c.map(x => x * x).sum
          (cc - 2.0 * plainDot(v, c), cl)
        }.min
        id -> best._2
      }
      val byCl = assigned.zip(vecs).groupBy(_._1._2)
      cents = byCl.toSeq.map { case (cl, xs) =>
        val vs = xs.map(_._2._2)
        cl -> (0 until vs.head.length).map { pos =>
          plainRound6(vs.map(_(pos)).sum / vs.length)
        }.toArray
      }.sortBy(_._1)
    }
    (assigned, cents)
  }

  test("v09 kmeans equals a plain-Scala Lloyd's iteration") {
    import spark.implicits._
    // independent truth for the k-means loop: seeds, the 3 Lloyd's
    // rounds, the (distance, cluster) argmin tiebreak, and the
    // round6-per-update contract recomputed in plain Scala — a drifted
    // iteration count, seed rule, or rounding scale diverges here.
    val vecs = VectorOps.embDouble(spark, sf)
      .select($"vec_id", $"v").as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.toArray }.sortBy(_._1)
    val (assigned, cents) = plainLloyd(vecs)
    val counts = assigned.groupBy(_._2).map { case (cl, xs) => cl -> xs.length.toLong }
    val truth = cents.flatMap { case (cl, c) =>
      c.zipWithIndex.map { case (x, pos) => (cl, pos.toLong, x, counts(cl)) }
    }
    val got = VectorOps.kmeans(spark, sf)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(got == truth)
    assert(counts.size == 4, s"only ${counts.size} clusters survived")
  }

  test("d35 equals a plain-Scala triangle enumeration") {
    import spark.implicits._
    // independent truth for the canonical-orientation triangle count
    // and the clustering coefficient: enumerate a<b<c triples in plain
    // Scala from the declared pair set — a drifted orientation rule
    // (double-counted triangles), degree definition, or r4 constant
    // diverges here
    val pairs = TextOps.minhashLsh(spark, sf)
      .select($"d1", $"d2").as[(Long, Long)].collect()
    val pairSet = pairs.toSet
    val nbrGt = pairs.groupBy(_._1).map { case (a, xs) => a -> xs.map(_._2) }
    val tri = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      (a, b) <- pairs
      c <- nbrGt.getOrElse(b, Array.empty[Long])
      if pairSet((a, c))
    } { tri(a) += 1; tri(b) += 1; tri(c) += 1 }
    val deg = pairs.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val truth = deg.keys.toSeq.sorted.map { id =>
      val d = deg(id)
      val t = tri(id)
      val clust = if (d < 2) 0.0
        else (BigDecimal(2L * t) / BigDecimal(d * (d - 1L)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, d, t, clust)
    }
    val got = TextOps.dupTriangles(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == truth)
    // the pin is vacuous without actual triangles on the fixture
    assert(truth.exists(_._3 > 0), "no triangles in the d06 pair graph")
  }

  test("v28 capping and ranking equal a plain-Scala recomputation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // independent truth for the v28-SPECIFIC logic (per-cell cap +
    // global top-10 + tiebreaks), recomputed in plain Scala over
    // engine-scored candidates; the scoring/assignment side is pinned
    // by v07's recall rows. Also the representation guarantee the
    // scaladoc states: >= ceil(k/cap) distinct cells whenever that
    // many probed cells have members.
    val (assigned, q, _) = VectorOps.ivfIndex(spark, sf)
    val probeSet = VectorOps.probeCells(spark, sf, VectorOps.DivProbe, q)
      .select($"probe_cell").as[Int].collect().toSet
    val cands = assigned.filter($"vec_id" =!= 0)
      .crossJoin(org.apache.spark.sql.functions.broadcast(q))
      .select($"vec_id", $"cell",
        round(call_function("graft_cosine", $"v", $"qv"), 6).as("cos"))
      .as[(Long, Int, Double)].collect()
      .filter { case (_, cell, _) => probeSet(cell) }
    val capped = cands.groupBy(_._2).toSeq.flatMap { case (_, xs) =>
      xs.sortBy { case (id, _, c) => (-c, id) }
        .zipWithIndex.map { case ((id, cell, c), i) => (id, cell, i + 1L, c) }
        .filter(_._3 <= VectorOps.DivCap)
    }
    val truth = capped.sortBy { case (id, _, _, c) => (-c, id) }.take(10)
    val got = VectorOps.diversifiedTopK(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(got == truth)
    val cellsWithMembers = cands.map(_._2).distinct.length
    val needed = (10 + VectorOps.DivCap - 1) / VectorOps.DivCap
    if (cellsWithMembers >= needed)
      assert(got.map(_._2).distinct.length >= needed,
        s"only ${got.map(_._2).distinct.length} cells in the top-10")
  }

  test("s47 embed near-dup equals the batch band join") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamOps
    // cross-face identity, the s24 discipline on the embedding side:
    // the streamed bucket-state probe must equal the batch band join
    // (per-bucket min even-side vec probed by odd-side vecs), verified
    // at the same cosine threshold
    val out = StreamOps.streamEmbedNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out.nonEmpty)
    val bands = VectorOps.bandCodes(spark, sf)
    val oldMin = bands.filter($"vec_id" % 2 === 0)
      .groupBy($"band", $"code").agg(min($"vec_id").as("d1"))
    val cand = bands.filter($"vec_id" % 2 === 1)
      .join(oldMin, Seq("band", "code"))
      .select($"d1", $"vec_id".as("d2")).distinct()
    val e = VectorOps.embDouble(spark, sf)
    val expect = cand
      .join(e.select($"vec_id".as("d1"), $"v".as("v1")), "d1")
      .join(e.select($"vec_id".as("d2"), $"v".as("v2")), "d2")
      .withColumn("cos", call_function("graft_cosine", $"v1", $"v2"))
      .filter($"cos" >= 0.4)
      .select($"d1", $"d2", round($"cos", 6).as("cos"))
      .as[(Long, Long, Double)].collect().toSet
    assert(out == expect)
  }

  test("d41 PMI equals a plain-Scala brute-force recomputation") {
    import spark.implicits._
    // the ln-freeze class that produced both live bugs of rounds 9-11
    // (d33's negative-OLS fdiv, the HLL 2^24 divisor): pmi_micro =
    // HALF_UP(ln(cab*N/(ca*cb)) * 10^4) recomputed from raw docs with
    // math.log and BigDecimal — a drifted freeze scale, co-occurrence
    // threshold, or marginal definition diverges here
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (_, t) => t.split(" ", -1).distinct.sorted }
    val n = docs.length.toLong
    val marg = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val cab = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    docs.foreach { toks =>
      toks.foreach(marg(_) += 1)
      for (i <- toks.indices; j <- (i + 1) until toks.length)
        cab((toks(i), toks(j))) += 1
    }
    val truth = cab.toSeq.collect { case ((ta, tb), c) if c >= 5 =>
      val pmi = BigDecimal(math.log(c.toDouble * n / (marg(ta) * marg(tb))) * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (ta, tb, c, marg(ta), marg(tb), pmi)
    }.sortBy { case (ta, tb, _, _, _, p) => (-p, ta, tb) }.take(20)
    val got = TextOps.pmiPairs(spark, sf)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == truth)
    assert(got.nonEmpty && got.head._6 > 0, "no positive-PMI pair surfaced")
  }

  test("e20 transitions equal a per-user sequential scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.unix_micros
    // Markov transition counts + r4 row probabilities recomputed with
    // an explicit per-user sort and successor walk — a drifted window
    // order (ts vs ts,event_id), a dropped last-event filter, or an r4
    // denominator swap (row vs grand total) diverges here
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts"), $"event_id", $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val pairs = ev.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val sorted = xs.sortBy(x => (x._2, x._3))
      sorted.zip(sorted.tail).map { case (a, b) => (a._4, b._4) }
    }
    val counts = pairs.groupBy(identity)
      .map { case (k, xs) => k -> xs.length.toLong }
    val rowTot = counts.toSeq.groupBy(_._1._1)
      .map { case (f, xs) => f -> xs.map(_._2).sum }
    val truth = counts.toSeq.sortBy(_._1).map { case ((f, t), c) =>
      (f, t, c, (BigDecimal(c) / BigDecimal(rowTot(f)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = graft.operators.EventAnalytics.transitions(spark, sf)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got == truth)
    assert(got.map(_._1).distinct.size > 1, "degenerate transition matrix")
  }

  test("e15 retention equals a per-user direct recomputation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.unix_micros
    // cohort = min UTC day; retained = any activity in the half-open
    // (cohort, cohort+7d] window — the strict/inclusive bounds and the
    // day-truncation recomputed from raw micros with floorDiv
    val dayUs = 86400000000L
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts"))
      .as[(Long, Long)].collect()
    val byUser = ev.groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(x =>
        Math.floorDiv(x._2, dayUs) * dayUs).distinct }
    val truth = byUser.toSeq.map { case (_, days) =>
      val cohort = days.min
      val retained = days.exists(d => d > cohort && d <= cohort + 7 * dayUs)
      (cohort, retained)
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, xs) =>
      (c, xs.length.toLong, xs.count(_._2).toLong)
    }
    val got = graft.operators.EventAnalytics.retentionCohorts(spark, sf)
      .collect().map(r => (r.getTimestamp(0).getTime * 1000L,
        r.getLong(1), r.getLong(2))).toSeq
    assert(got == truth)
    // the fixtures never exercise the NOT-retained branch (every user
    // at every SF is active again within 7 days — verified), so the
    // bounds get a synthetic through the retentionCohortsFrom seam:
    // day-7 is retained (inclusive upper bound), day-8 is not, and
    // same-day-only activity is not (strict lower bound)
    val day0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def day(i: Int) = java.sql.Timestamp.valueOf(s"2024-01-0${i + 1} 00:00:00")
    val synth = Seq(
      (1L, day0), (1L, day(7)),       // retained exactly at +7d
      (2L, day0), (2L, day(8)),       // +8d — NOT retained
      (3L, day0), (3L, day0))         // same-day only — NOT retained
      .toDF("user_id", "day")
    val sgot = graft.operators.EventAnalytics.retentionCohortsFrom(synth)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(sgot.toSeq == Seq((3L, 1L)),
      s"boundary semantics drifted: $sgot")
  }

  test("v19 silhouette equals a plain-Scala recomputation") {
    import spark.implicits._
    // the per-point silhouette can be NEGATIVE (b < a), so this pin is
    // the one place the away-from-zero micro-unit rounding AND r4's
    // floor-tie behavior on a negative numerator are both exercised on
    // real data; Lloyd's state comes from the same plain recomputation
    // the v09 pin proved equal to the declared kmeans
    val vecs = VectorOps.embDouble(spark, sf)
      .select($"vec_id", $"v").as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.toArray }.sortBy(_._1)
    val (assigned, cents) = plainLloyd(vecs)
    val vById = vecs.toMap
    val sus = assigned.map { case (id, cl) =>
      val v = vById(id)
      val vv = plainDot(v, v)
      val ds = cents.map { case (c2, c) =>
        val cc = c.map(x => x * x).sum
        c2 -> plainRound6(math.sqrt(math.max(cc - 2.0 * plainDot(v, c) + vv, 0.0)))
      }
      val a = ds.find(_._1 == cl).get._2
      val b = ds.filter(_._1 != cl).map(_._2).min
      val su = if (math.max(a, b) == 0.0) 0L
        else BigDecimal((b - a) / math.max(a, b) * 10000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      cl -> su
    }
    val truth = sus.groupBy(_._1).toSeq.sortBy(_._1).map { case (cl, xs) =>
      val n = xs.length.toLong
      val s = xs.map(_._2).sum
      // Det.r4 mirror — floorDiv, NOT BigDecimal: s can be negative
      (cl, n, Math.floorDiv(s * 20000L + n * 10000L, n * 20000L) / 10000.0)
    }
    val got = VectorOps.silhouette(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == truth)
    assert(sus.exists(_._2 < 0),
      "no negative per-point silhouette — the negative-r4 branch untested")
  }

  test("d26 token entropy equals a plain-Scala brute-force recomputation") {
    import spark.implicits._
    // completes d26's anchor tests (0 / ln k) with the full-fixture
    // exact pin: the micro-nat freeze c*HALF_UP(ln(n/c)*1e6) and the
    // r4 read-off recomputed with math.log + BigDecimal — the same
    // ln-freeze class as d16/d33/d41
    def up0(x: Double): Long = BigDecimal(x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val truth = docs.toSeq.map { case (id, t) =>
      val toks = t.split(" ", -1)
      val n = toks.length.toLong
      val counts = toks.groupBy(identity).map { case (_, xs) => xs.length.toLong }
      val sm = counts.map(c => c * up0(math.log(n.toDouble / c) * 1e6)).sum
      val h = (BigDecimal(sm) / BigDecimal(n * 1000000L))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, n, counts.size.toLong, h)
    }.sortBy(_._1)
    val got = TextOps.tokenEntropy(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == truth)
  }

  test("e18 distributed rank branch equals the plain window branch") {
    // the e50/e52 flip discipline applied to the per-group rank
    // family: partitionBy(event_type) caps parallelism at 5, so above
    // the stats threshold e18 ranks through ONE range exchange over
    // (event_type, value, event_id) with per-group offsets. Both
    // branches must be value-identical — forced here through the
    // threshold seam (0 = always distributed, MaxValue = always
    // plain; the fixture's declared plan is the plain branch).
    val plain = Events.rankVariantsThresholded(spark, sf, Long.MaxValue)
      .collect().toSeq
    val dist = Events.rankVariantsThresholded(spark, sf, 0L)
      .collect().toSeq
    assert(dist == plain)
    assert(plain.nonEmpty)
    // the fence is DERIVED from the session's memory geometry (r13:
    // heap × spark.memory.fraction / 4, no host-calibrated literal).
    // Pin (a) the formula against this JVM's actual geometry, (b) that
    // the DECLARED query takes the plain branch at fixture scale under
    // the derived fence (its plan windows by event_type — the flip
    // would show a repartition-by-range instead), and (c) the fence
    // sits in a sane band on ANY host this suite runs on: above the
    // 100×-probe input (~400 MB, where plain measured FASTER) only
    // when the heap actually affords it
    val fence = Events.rankSortFenceBytes(spark)
    val expect = (Runtime.getRuntime.maxMemory *
      spark.conf.getOption("spark.memory.fraction").map(_.toDouble)
        .getOrElse(0.6) / 4.0).toLong
    assert(fence == expect)
    assert(fence > 0L)
    val declaredPlan = Events.rankVariants(spark, sf)
      .queryExecution.executedPlan.toString
    assert(declaredPlan.contains("event_type"), "plain branch expected")
    assert(!declaredPlan.contains("__gr"),
      "declared plan must not contain the DistRank rank column at " +
        "fixture scale — the derived fence flipped where it should not")
  }

  test("e56 gini equals the mean-absolute-difference identity") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // independent truth for the rank-formula Gini the oracle MIRRORS
    // ((2*sum(i*x) - (N+1)*sum(x)) / (N*sum(x))): the pairwise identity
    // G = sum_ij |x_i - x_j| / (2*N*sum x) needs no ranking at all, so
    // a drifted rank-side constant (the 2, the N+1) diverges here while
    // the shared-formula hash gate stays green. Exact BigInt + the
    // DetProps-pinned HALF_UP 4-dp rounding.
    val cents = Tables.events(spark, sf)
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "purchase",
        expr("CAST(round(value * 100, 0) AS BIGINT)")).otherwise(0L))
        .as("c"))
      .select($"c").as[Long].collect().map(BigInt(_))
    val n = BigInt(cents.length)
    val tot = cents.sum
    val pairSum = (for (a <- cents; b <- cents) yield (a - b).abs).sum
    val expected = (BigDecimal(pairSum) / BigDecimal(2 * n * tot))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val gini = graft.operators.Events.spendConcentration(spark, sf)
      .select($"gini").distinct().as[Double].collect()
    assert(gini.toSeq == Seq(expected),
      s"gini ${gini.toSeq} != pairwise-identity $expected")
  }

  test("d43 drift: totals recompute, bounds hold, argmax dominates") {
    import spark.implicits._
    val out = TextOps.sourceDrift(spark, sf).collect()
    val tot = Tables.documents(spark, sf)
      .select($"source", org.apache.spark.sql.functions
        .size(org.apache.spark.sql.functions.split($"text", " "))
        .cast("long").as("n"))
      .groupBy($"source")
      .agg(org.apache.spark.sql.functions.sum($"n").as("t")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("t")).toMap
    assert(out.length == tot.size)
    out.foreach { r =>
      assert(r.getAs[Long]("total_tokens") == tot(r.getAs[String]("source")))
      val drift = r.getAs[Long]("drift_ppb")
      val top = r.getAs[Long]("top_term_ppb")
      // TV-style sum of |rate diffs| over a term subset ≤ 2·10⁹
      assert(drift >= 0 && drift <= 2000000000L)
      assert(top >= 0 && top <= drift)
    }
  }
}

class VectorExpressionsSpec extends AnyFunSuite {
  import org.apache.spark.sql.functions._
  lazy val spark = TestSession.spark

  test("graft_dot/graft_cosine/graft_norm match hand values and HOF equivalents") {
    import spark.implicits._
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.graft.VectorExpressions
    // each typed constructor next to its SQL name, which this session
    // resolves through GraftExtensions: the two faces must agree exactly
    def typedAndSql(df: DataFrame): Array[org.apache.spark.sql.Row] = {
      val faces: Seq[(Column, String)] = Seq(
        VectorExpressions.dot($"a", $"b") -> "graft_dot(a, b)",
        VectorExpressions.cosine($"a", $"b") -> "graft_cosine(a, b)",
        VectorExpressions.norm($"a") -> "graft_norm(a)",
        VectorExpressions.sortedIsect($"x", $"y") -> "graft_sorted_isect(x, y)",
        VectorExpressions.lshBands($"w") -> "graft_lsh_bands(w)")
      val rows = df.select(
        faces.flatMap { case (c, sql) => Seq(c, expr(sql)) }: _*).collect()
      for (r <- rows; i <- faces.indices)
        assert(r.get(2 * i) == r.get(2 * i + 1), faces(i)._2)
      rows
    }
    def w(k: Int): Array[Double] = Array.tabulate(64)(g => math.sin(g * 7 + k))
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0), Array(1L, 2L, 3L),
        Array(2L, 3L, 9L), w(0)),
      (Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(5L), Array(6L), w(1)),
      (Array(2.0, 0.0, 0.0), Array(2.0, 0.0, 0.0), Array.empty[Long],
        Array(1L), w(2))
    ).toDF("a", "b", "x", "y", "w")
    val got = typedAndSql(df)
    assert(got(0).getDouble(0) == 32.0)
    assert(math.abs(got(1).getDouble(2)) < 1e-12)        // orthogonal
    assert(math.abs(got(2).getDouble(2) - 1.0) < 1e-12)  // identical
    assert(math.abs(got(0).getDouble(4) - math.sqrt(14.0)) < 1e-12)
    assert(got.map(_.getInt(6)).toSeq == Seq(2, 0, 0))   // |x ∩ y|
    assert(got.forall(_.getSeq[Long](8).size == 8))      // one code per band
    // float arrays take the implicit-cast path in both faces
    val f = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f), Array(1, 2),
      Array(2, 3), w(0).map(_.toFloat))).toDF("a", "b", "x", "y", "w")
    val Array(fr) = typedAndSql(f)
    assert(fr.getDouble(0) == 11.0)
    assert(fr.getInt(6) == 1)
    // HOF equivalence on float arrays
    val Array(r) = f.select(
      VectorExpressions.dot($"a", $"b").as("d1"),
      expr("aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), 0D, (s, x) -> s + x)").as("d2"))
      .collect()
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9)
  }
}

class StreamingSpec extends AnyFunSuite {
  import graft.streaming.StreamOps
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("s25 streaming as-of join equals the batch window as-of") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = StreamOps.streamAsOfJoin(spark, sf)
    assert(out.count() > 0)
    val ev = Tables.events(spark, sf)
    val q = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts".as("quote_ts"), $"event_id".as("q_id"),
        $"value".as("quote_value"))
    val t = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("trade_ts"), $"event_id".as("trade_id"))
    val w = Window.partitionBy($"trade_id")
      .orderBy($"quote_ts".desc, $"q_id".desc)
    // inner as-of matches, then left-join back so quote-less trades
    // surface as null-quote rows (the left-outer as-of contract)
    val matched = t.join(q, Seq("user_id"))
      .filter($"quote_ts" <= $"trade_ts")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"trade_id", $"quote_ts", $"quote_value")
    val batch = t.join(matched, Seq("trade_id"), "left")
      .select($"trade_id", $"user_id", $"trade_ts", $"quote_ts",
        $"quote_value")
    assert(out.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(out).count() == 0)
  }

  test("s31 streaming CUSUM equals the direct baseline-then-monitor recursion") {
    import spark.implicits._
    val out = StreamOps.streamCusum(spark, sf).collect()
    assert(out.nonEmpty)
    // parse as a UTC instant — Timestamp.valueOf would use the JVM
    // default zone, diverging from the query's UTC-session cut on a
    // non-UTC host
    val cut = java.sql.Timestamp.from(
      java.time.LocalDateTime.of(2024, 1, 15, 0, 0)
        .toInstant(java.time.ZoneOffset.UTC))
    val evs = Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"value").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("ts"),
        r.getAs[Long]("event_id"), math.round(r.getAs[Double]("value") * 100)))
    val byUser = evs.groupBy(_._1)
    val expect = byUser.flatMap { case (u, rows) =>
      val (base, mon) = rows.partition(_._2.before(cut))
      if (base.isEmpty || mon.isEmpty) None else {
        val n0 = base.length.toLong
        val s0 = base.map(_._4).sum
        var c = 0L; var cmax = 0L
        var arg: (java.sql.Timestamp, Long) = (null, 0L)
        mon.sortBy(e => (e._2.getTime, e._3)).foreach { e =>
          c = math.max(0L, c + (n0 * e._4 - s0))
          if (arg._1 == null || c > cmax) { cmax = c; arg = (e._2, e._3) }
        }
        Some(u -> (n0, mon.length.toLong, cmax, arg))
      }
    }
    assert(out.length == expect.size)
    out.foreach { r =>
      val (n0, nm, cmax, arg) = expect(r.getAs[Long]("user_id"))
      assert(r.getAs[Long]("n_base") == n0)
      assert(r.getAs[Long]("n_mon") == nm)
      val den = n0 * 100L
      assert(r.getAs[Double]("cusum_max") ==
        ((cmax * 20000L + den) / (den * 2L)) / 10000.0)
      if (cmax > 0) {
        assert(r.getAs[java.sql.Timestamp]("cp_ts") == arg._1)
        assert(r.getAs[Long]("cp_event_id") == arg._2)
      }
    }
  }

  test("s33 file-sink roundtrip equals the complete-mode streaming result") {
    val viaSink = StreamOps.streamSinkRoundtrip(spark, sf)
    val inMemory = StreamOps.streamTumbling(spark, sf)
    assert(viaSink.count() == inMemory.count())
    assert(viaSink.exceptAll(inMemory).count() == 0)
    assert(inMemory.exceptAll(viaSink).count() == 0)
  }

  test("s32 timer-closed sessions equal the batch session_window result") {
    val out = StreamOps.streamTimerSessions(spark, sf)
    val batch = graft.operators.Events.sessionWindows(spark, sf)
    assert(out.count() == batch.count())
    assert(out.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(out).count() == 0)
  }

  test("s35 foreachBatch side-effect store reconstructs the batch aggregate") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = StreamOps.streamForeachCounts(spark, sf)
    val batch = graft.Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        graft.functions.Det.dsum($"value").as("sum_value"))
    assert(out.count() == batch.count())
    assert(out.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(out).count() == 0)
  }

  test("s34 streaming IVF assignment equals an independent batch argmax") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val out = StreamOps.streamIvfAssign(spark, sf)
    val emb = graft.Tables.embeddings(spark, sf)
    // stateless serving: exactly one assignment per incoming vector
    assert(out.count() == emb.count())
    // batch recomputation through a DIFFERENT plan shape (broadcast
    // join + row_number argmax, v07-style) over the same rounded model
    val centDf = graft.operators.VectorOps.labelCentroidsRounded(spark, sf)
      .map { case (cl, c) => (cl, c.toSeq) }.toDF("cl", "cv")
    val batch = emb
      .withColumn("v", col("embedding").cast("array<double>"))
      .crossJoin(broadcast(centDf))
      .withColumn("cos", call_function("graft_cosine", $"v", $"cv"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"vec_id").orderBy(desc("cos"), $"cl")))
      .filter($"rn" === 1)
      .select($"vec_id", $"cl".as("cell"), round($"cos", 6).as("ccos"))
    assert(out.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(out).count() == 0)
  }

  test("s30 streaming rolling anomaly equals the batch e39 result") {
    val out = StreamOps.streamRollingAnomaly(spark, sf)
    val batch = graft.operators.Events.rollingAnomalies(spark, sf)
    // identical row SETS (both are the global top-20 by z² — ordering
    // is re-asserted by the oracle's row-order hash)
    assert(out.count() == batch.count())
    assert(out.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(out).count() == 0)
  }

  test("s26 streaming novelty equals the batch corpus/increment split") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = StreamOps.streamNovelty(spark, sf).collect()
    assert(out.nonEmpty)
    val sh = graft.operators.TextOps.distinctShingles(spark, sf)
    val oldS = sh.filter($"doc_id" % 2 === 0).select($"s").distinct()
      .withColumn("seen", lit(1))
    val expect = sh.filter($"doc_id" % 2 === 1)
      .join(oldS, Seq("s"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("g"), sum(coalesce($"seen", lit(0))).as("ns"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("g"), r.getAs[Long]("ns"))).toMap
    assert(out.length == expect.size)
    out.foreach { r =>
      val (g, ns) = expect(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_grams") == g)
      assert(r.getAs[Long]("n_novel") == g - ns)
    }
    // (no domination vs d30: the s26 corpus is the even HALF, not the
    // earlier-id prefix — an even doc with a larger id can hold a
    // shingle d30 counts as novel)
  }

  test("m08 streaming frame dedup equals the batch frame join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = graft.multimodal.Multimodal.streamMediaDedup(spark, sf).collect()
    assert(out.nonEmpty)
    val fr = graft.multimodal.Multimodal.frameSample(spark, sf)
      .select($"doc_id", $"frame_md5").distinct()
    val oldMin = fr.filter($"doc_id" % 2 === 0)
      .groupBy($"frame_md5").agg(min($"doc_id").as("dup_of"))
    val expect = fr.filter($"doc_id" % 2 === 1)
      .join(oldMin, Seq("frame_md5"))
      .groupBy($"doc_id")
      .agg(min($"dup_of").as("dup_of"), count(lit(1)).as("nf"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of"),
        r.getAs[Long]("nf"))).toSet
    assert(out.map(r => (r.getAs[Long]("new_doc"), r.getAs[Long]("dup_of"),
      r.getAs[Long]("n_shared_frames"))).toSet == expect)
  }

  test("s27 streaming semi join equals distinct-left of the inner join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val semi = StreamOps.streamViewPurchaseSemi(spark, sf)
      .select($"view_id").collect().map(_.getLong(0)).toSet
    val inner = StreamOps.streamViewPurchase(spark, sf)
      .select($"view_id").collect().map(_.getLong(0)).toSet
    assert(semi.nonEmpty)
    assert(semi == inner) // semi = distinct left keys of the inner join
  }

  test("s25 as-of tiebreak: equal quote timestamps resolve to larger event_id") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // constructed fixture: two quotes at the SAME instant (event_id 1, 2)
    // before one trade, one quote after it (must not match), one user
    // with no quotes at all (null padding)
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_tie")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    Seq(
      (1L, t0, 7L, "view", 10.0, "{}"),
      (2L, t0, 7L, "view", 20.0, "{}"),
      (3L, t2, 7L, "view", 99.0, "{}"),
      (4L, t1, 7L, "purchase", 0.0, "{}"),
      (5L, t1, 8L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val out = StreamOps.streamAsOfJoin(spark, dir.toString).collect()
      .map(r => r.getAs[Long]("trade_id") ->
        (Option(r.getAs[java.lang.Double]("quote_value")))).toMap
    assert(out(4L).contains(20.0)) // same-ts tie -> larger event_id's quote
    assert(out(5L).isEmpty)        // no quotes for user 8 -> null padded
  }

  test("s25 probe cost is sub-linear in key history (bucketed seek)") {
    import graft.streaming.AsOfJoinProcessor
    import spark.implicits._
    // one key, 1204 quotes spread over ~1200 hourly buckets (3 arrive
    // out of order into previously-empty buckets → chain splice), then
    // 6 probes: present-bucket hits, a gap probe, a late-bucket hit
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_deep")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(h: Double) = new java.sql.Timestamp(base + (h * 3600000L).toLong)
    val quotes = (1 to 1201).map { i =>
      val h = 2L * i  // even hours 2..2402
      (h, ts(h.toDouble), 7L, "view", h.toDouble, "{}")
    }
    val late = Seq(501L, 901L, 1501L).map(h =>
      (10000L + h, ts(h.toDouble), 7L, "view", h.toDouble, "{}"))
    val probeHours = Seq(2402, 2401, 1200, 502, 501, 2)
    val probes = probeHours.zipWithIndex.map { case (h, i) =>
      (20000L + i, ts(h + 0.5), 7L, "purchase", 0.0, "{}")
    }
    (quotes ++ late ++ probes)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    AsOfJoinProcessor.probedQuotes.set(0)
    AsOfJoinProcessor.probeBucketReads.set(0)
    val out = StreamOps.streamAsOfJoin(spark, dir.toString).collect()
      .map(r => r.getAs[Long]("trade_id") ->
        r.getAs[java.lang.Double]("quote_value")).toMap
    // probe at h+0.5 resolves the latest quote hour ≤ h+0.5
    val expected = Map(0 -> 2402, 1 -> 2400, 2 -> 1200, 3 -> 502,
      4 -> 501, 5 -> 2)
    expected.foreach { case (i, h) =>
      assert(out(20000L + i) == h.toDouble, s"probe $i") }
    // the sub-linearity evidence: 6 probes against a 1204-quote history
    // must touch O(1) buckets/quotes each — a flat-list scan would be
    // ≥ 6 × 1204 = 7224 quote reads
    assert(AsOfJoinProcessor.probeBucketReads.get <= 24,
      s"bucket reads ${AsOfJoinProcessor.probeBucketReads.get}")
    assert(AsOfJoinProcessor.probedQuotes.get <= 24,
      s"quotes examined ${AsOfJoinProcessor.probedQuotes.get}")
  }

  test("s24 incremental near-dup equals the batch band join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = StreamOps.streamNearDup(spark, sf).collect()
    assert(out.nonEmpty)
    val bands = graft.operators.TextOps.lshBands(spark, sf)
    val oldMin = bands.filter($"doc_id" % 2 === 0)
      .groupBy($"band", $"bh").agg(min($"doc_id").as("min_old"))
    val expect = bands.filter($"doc_id" % 2 === 1)
      .join(oldMin, Seq("band", "bh"))
      .groupBy($"doc_id")
      .agg(min($"min_old").as("dup_of"), count(lit(1)).as("mb"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of"),
        r.getAs[Long]("mb"))).toSet
    assert(out.map(r => (r.getAs[Long]("new_doc"), r.getAs[Long]("dup_of"),
      r.getAs[Long]("matched_bands"))).toSet == expect)
  }

  test("streaming range enrich equals the batch binned range join rows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val streamed = StreamOps.streamRangeJoin(spark, sf)
    val batch = Tables.events(spark, sf)
      .join(graft.operators.Events.promoIntervals(spark),
        $"ts" >= $"p_start" && $"ts" < $"p_end")
      .select($"event_id", $"promo_id", $"user_id",
        round($"value", 2).as("value"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.count() > 0)
  }

  test("flatMapGroupsWithState sessionization equals batch session_window") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val gap = "2 hours"
    val batch = graft.operators.Events.sessionWindows(spark, sf)
      .select($"user_id", $"s_start", $"s_end", $"n_events")
    val events = Tables.events(spark, sf).as[graft.streaming.EventRow]
    // batch Dataset through the same FMGWS logic (single "batch" = one
    // group invocation; watermark far past the data closes all sessions)
    val streamed = StreamOps.sessionize(
      StreamOps.eventsStream(spark, sf).as[graft.streaming.EventRow],
      gapMs = 2 * 3600 * 1000L, watermark = "0 seconds")
    val q = streamed.writeStream.format("memory")
      .queryName("fmgws_sessions").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("fmgws_sessions")
      .select($"user_id", $"s_start", $"s_end", $"n_events")
    // append mode emits only watermark-closed sessions; every emitted
    // session must exist identically in the batch result, and most
    // sessions (all but the tail beyond the final watermark) must emit
    val missing = got.exceptAll(batch).count()
    assert(missing == 0, s"$missing streamed sessions not in batch result")
    val batchN = batch.count()
    val gotN = got.count()
    assert(gotN >= batchN / 2, s"only $gotN of $batchN sessions emitted")
  }

  test("streaming view->purchase join equals batch interval join") {
    import spark.implicits._
    val batch = graft.operators.Events.viewToPurchase(spark, sf)
    val streamed = StreamOps.runToMemory(
      StreamOps.viewPurchaseJoin(StreamOps.eventsStream(spark, sf)),
      "stream_vp", "append")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming dedup drops re-sent rows within the watermark") {
    import spark.implicits._
    val e = Tables.events(spark, sf).limit(100)
    val doubled = e.union(e)
    // batch analogue of the state logic: one row per event_id survives
    assert(doubled.dropDuplicates("event_id").count() == 100)
  }

  test("streaming left-outer join null-pads only on watermark close") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // WITHOUT the flush sentinels the watermark stops at
    // max(real ts) - delay, so views in the final watermark+window span
    // stay locked in the state store and never null-pad: the left join
    // degrades to inner for the stream tail. WITH them, the output must
    // equal the batch LEFT JOIN exactly — proving null rows are emitted
    // by watermark close, not eagerly at match time.
    val noFlush = StreamOps.runToMemory(
      StreamOps.viewPurchaseLeftJoin(StreamOps.eventsStream(spark, sf)),
      "stream_vpl_nf", "append")
    val withFlush = StreamOps.streamViewPurchaseLeft(spark, sf)
    val ev = Tables.events(spark, sf)
    val batch = ev.filter($"event_type" === "view").as("v")
      .join(ev.filter($"event_type" === "purchase").as("p"),
        $"v.user_id" === $"p.user_id" && $"p.ts" >= $"v.ts" &&
          $"p.ts" <= $"v.ts" + expr("INTERVAL 60 minutes"),
        "left_outer")
      .select($"v.event_id".as("view_id"), $"p.event_id".as("purchase_id"),
        $"v.user_id".as("user_id"), round($"p.value", 2).as("purchase_value"))
    assert(withFlush.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(withFlush).count() == 0)
    assert(withFlush.filter($"purchase_id".isNull).count() > 0)
    // the un-flushed stream is a strict subset: the tail nulls are held back
    assert(noFlush.exceptAll(withFlush).count() == 0)
    assert(withFlush.count() > noFlush.count())
  }

  test("MG heavy hitters run as a streaming windowed aggregation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the typed Aggregator is a first-class aggregate: it composes with
    // streaming windowed groupBy exactly like a built-in (bounded sketch
    // state per (window, type) group in the state store)
    val mg = udaf(new graft.functions.HeavyHittersAggregator(8),
      org.apache.spark.sql.Encoders.scalaLong)
    val out = StreamOps.runToMemory(
      StreamOps.eventsStream(spark, sf)
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "7 days").as("w"), $"event_type")
        .agg(mg($"user_id").as("hh")),
      "stream_mg", "complete")
    val rows = out.select($"event_type", size($"hh").as("k"))
      .as[(String, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (tpe, k) =>
      assert(k >= 1 && k <= 8, s"$tpe summary size $k out of bounds")
    }
  }

  test("streaming full-outer join = left join + unmatched purchases") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val full = StreamOps.streamViewPurchaseOuter(spark, sf)
    val left = StreamOps.streamViewPurchaseLeft(spark, sf)
    // the view-side rows of the full join ARE the left join
    val fullViewSide = full.filter($"view_id".isNotNull)
    assert(fullViewSide.exceptAll(left).count() == 0)
    assert(left.exceptAll(fullViewSide).count() == 0)
    // purchase-side padding: one null-view row per purchase that no view
    // precedes within the window
    val ev = Tables.events(spark, sf)
    val matched = ev.filter($"event_type" === "purchase").as("p")
      .join(ev.filter($"event_type" === "view").as("v"),
        $"v.user_id" === $"p.user_id" && $"p.ts" >= $"v.ts" &&
          $"p.ts" <= $"v.ts" + expr("INTERVAL 60 minutes"), "left_semi")
    val unmatched =
      ev.filter($"event_type" === "purchase").count() - matched.count()
    assert(full.filter($"view_id".isNull).count() == unmatched)
  }
}

/** The Kafka source's JSON serde, driven without a broker: the wire
  * format (binary `value` column) is reproduced from real fixture rows
  * with to_json+encode, and the parse projection must round-trip them
  * exactly. Narrows the environment-blocked surface to the connector
  * `.load()` call alone. */
class KafkaSerdeSpec extends AnyFunSuite {
  import graft.streaming.StreamOps
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("Kafka wire values round-trip through the JSON serde projection") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
    val wire = ev.select(
      encode(to_json(struct(ev.columns.map(col): _*),
        java.util.Map.of("timestampFormat", StreamOps.kafkaTsFormat)),
        "UTF-8").as("value"))
    val parsed = StreamOps.parseKafkaValue(wire)
    assert(parsed.columns.toSeq == ev.columns.toSeq)
    assert(parsed.exceptAll(ev).count() == 0)
    assert(ev.exceptAll(parsed).count() == 0)
    // malformed payloads parse to null columns, not query failure
    // (PERMISSIVE mode — the poison-pill tolerance a consumer needs)
    val bad = Seq("{truncated", "").toDF("s")
      .select(encode($"s", "UTF-8").as("value"))
    assert(StreamOps.parseKafkaValue(bad)
      .filter($"event_id".isNull).count() == 2)
    // producers vary in fraction precision: fraction-less (Jackson /
    // Connect default), millis, and micros must all parse — this is why
    // the parser keeps the lenient default instead of a fixed pattern
    val variants = Seq(
      """{"event_id":1,"ts":"2024-01-01T10:00:00Z"}""",
      """{"event_id":2,"ts":"2024-01-01T10:00:00.123Z"}""",
      """{"event_id":3,"ts":"2024-01-01T10:00:00.123456Z"}""")
      .toDF("s").select(encode($"s", "UTF-8").as("value"))
    assert(StreamOps.parseKafkaValue(variants)
      .filter($"ts".isNull).count() == 0)
  }
}

class AvroSerdeSpec extends AnyFunSuite {
  import graft.streaming.AvroSerde
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("Kafka wire values round-trip through the Avro binary serde") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
    val decoded = AvroSerde.fromAvroValues(AvroSerde.toAvroValues(ev))
    assert(decoded.columns.toSeq == ev.columns.toSeq)
    // row-for-row equality INCLUDING µs timestamp precision — a
    // millisecond wire long would fail this on the µs fixture times
    assert(decoded.exceptAll(ev).count() == 0)
    assert(ev.exceptAll(decoded).count() == 0)
    // the downstream-aggregate face the driver's oracle checks: the
    // per-type rollup off the DECODED wire equals the parquet truth
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100, 0) AS BIGINT)")).as("cents"),
        countDistinct($"user_id").as("users"))
      .orderBy($"event_type")
      .collect().toSeq
    assert(agg(decoded) == agg(ev))
  }

  test("corrupt Avro payloads decode to null rows, not task failure") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val good = AvroSerde.toAvroValues(Tables.events(spark, sf).limit(3))
    val bad = Seq(Array[Byte](), Array[Byte](1, 2, 3),
        "not avro".getBytes("UTF-8"))
      .toDF("value")
    // a truncated GOOD payload must also poison-pill, not mis-decode
    val truncated = good.limit(1).as[Array[Byte]]
      .map(b => b.take(b.length / 2)).toDF("value")
    val mixed = AvroSerde.fromAvroValues(good.union(bad).union(truncated))
    assert(mixed.count() == 7)
    assert(mixed.filter($"event_id".isNull).count() == 4)
    assert(mixed.filter($"event_id".isNotNull && $"ts".isNotNull).count() == 3)
  }
}

class MultimodalSpec extends AnyFunSuite {
  import graft.multimodal.Multimodal
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("mapPartitions decode emits one row per media payload") {
    import spark.implicits._
    val media = Multimodal.mediaTable(spark, sf).as[Multimodal.MediaRow]
    val decoded = Multimodal.decodeAll(media, Multimodal.StubDecoder)
    assert(decoded.count() == media.count())
    val d = decoded.filter(_.doc_id == 0).collect()(0)
    assert(d.width >= 1 && d.width <= 64 && d.channels == 3)
  }

  test("m10 energy segments equal a per-frame direct recomputation") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def energy(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      java.lang.Long.parseLong(hex, 16) % 256
    }
    val texts = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .filter(_._2.nonEmpty)
    val exp = texts.flatMap { case (id, t) =>
      val energies = t.grouped(256).map(energy).toArray
      // contiguous active runs (gaps-and-islands by hand)
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var i = 0
      while (i < energies.length) {
        if (energies(i) >= 96) {
          val s = i
          while (i < energies.length && energies(i) >= 96) i += 1
          runs += ((s, i - 1))
        } else i += 1
      }
      runs.map { case (s, e) =>
        val es = (s to e).map(energies(_))
        val (sum, n) = (es.sum, es.length.toLong)
        (id, s.toLong, e.toLong, n,
          Math.floorDiv(sum * 20000L + n, n * 2L) / 10000.0)
      }
    }.toSet
    val got = Multimodal.energySegments(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start_frame"),
        r.getAs[Long]("end_frame"), r.getAs[Long]("n_frames"),
        r.getAs[Double]("mean_energy"))).toSet
    assert(got == exp)
  }
}

case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)

class CentroidAggregatorSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.functions.CentroidAggregator
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("typed Aggregator centroids equal the relational centroid path") {
    import spark.implicits._
    val typed = Tables.embeddings(spark, sf).as[EmbRow]
      .groupByKey(_.label)
      .mapValues(_.embedding)
      .agg(CentroidAggregator.toColumn.name("c"))
      .map { case (label, out) => (label, out.centroid(0), out.centroid(63), out.n) }
      .toDF("label", "c0", "c63", "n")
    val relational = graft.operators.VectorOps.centroids(spark, sf)
    val rel0 = relational.filter("pos = 0")
      .select($"label", $"c", $"n").as[(Int, Double, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val got = typed.as[(Int, Double, Double, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (label, c0, _, n) =>
      val (expC0, expN) = rel0(label)
      assert(n == expN, s"label $label count")
      assert(math.abs(c0 - expC0) < 1e-6, s"label $label centroid[0]: $c0 vs $expC0")
    }
  }
}

class TransformWithStateSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions._
  import graft.streaming.{LatestEventProcessor, StreamOps}
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("transformWithState latest-by-key equals batch latestByKey") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = StreamOps.eventsStream(spark, sf).as[graft.streaming.EventRow]
      val out = stream
        .groupByKey(_.user_id)
        .transformWithState(new LatestEventProcessor,
          TimeMode.None(), OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[graft.streaming.LatestEvent])
      val q = out.writeStream.format("memory")
        .queryName("tws_latest").outputMode("update").start()
      q.processAllAvailable(); q.stop()
      // single source batch -> exactly one update (the latest) per key
      val got = spark.table("tws_latest")
        .select($"user_id", $"event_id").as[(Long, Long)].collect().toMap
      val exp = graft.operators.Events.latestByKey(spark, sf)
        .select($"user_id", $"event_id").as[(Long, Long)].collect().toMap
      assert(got == exp)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}

/** Timer + TTL halves of transformWithState: event-time timers fire
  * punctuate-style only when the watermark passes, and TTL'd state
  * silently expires between batches. */
class TimerTtlSpec extends org.scalatest.funsuite.AnyFunSuite {
  import java.sql.Timestamp
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
  import graft.streaming.{SessionCountProcessor, SessionFinal, StreamOps,
    TtlCountProcessor, CountOut}
  lazy val spark = TestSession.spark

  test("event-time timer emits the final count only after watermark close") {
    import spark.implicits._
    StreamOps.withConf(spark, StreamOps.RocksDb: _*) {
      val input = MemoryStream[(Long, Timestamp)](spark)
      val ds = input.toDS().toDF("user_id", "ts")
        .withWatermark("ts", "1 second")
        .as[(Long, Timestamp)]
      val out = ds.groupByKey(_._1)
        .transformWithState(new SessionCountProcessor(5 * 60 * 1000L),
          TimeMode.EventTime(), OutputMode.Append(),
          Encoders.product[SessionFinal])
      val q = out.writeStream.format("memory").queryName("tws_timer")
        .outputMode("append").start()
      try {
        input.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00")),
          (1L, Timestamp.valueOf("2024-01-01 10:01:00")))
        q.processAllAvailable()
        // timer at 10:06, watermark only at ~10:01 → nothing emitted yet
        assert(spark.table("tws_timer").count() == 0)
        input.addData((2L, Timestamp.valueOf("2024-01-01 20:00:00")))
        q.processAllAvailable()
        // watermark ~20:00 passed key 1's 10:06 timer → its final count
        // fires; key 2's 20:05 timer is still in the future
        val rows = spark.table("tws_timer")
          .as[(Long, Long)].collect().toSet
        assert(rows == Set((1L, 2L)))
      } finally q.stop()
    }
  }

  test("TTL'd state expires between batches and the count restarts") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    StreamOps.withConf(spark, StreamOps.RocksDb: _*) {
      // Two runs over ONE checkpoint: state persists across the restart,
      // but the 500 ms TTL (wall clock) lapses during the sleep, so the
      // second run must read expired (absent) state. TTL requires
      // ProcessingTime mode, in which the TTL-cleanup timer makes every
      // batch schedule another one — the query never reports idle — so
      // each run polls the sink and stops the query explicitly instead
      // of waiting on processAllAvailable/AvailableNow.
      val cp = java.nio.file.Files.createTempDirectory("tws_ttl_cp").toString
      val input = MemoryStream[(Long, Timestamp)](spark)
      val out = input.toDS().toDF("user_id", "ts").as[(Long, Timestamp)]
        .groupByKey(_._1)
        .transformWithState(new TtlCountProcessor(500L),
          TimeMode.ProcessingTime(), OutputMode.Update(),
          Encoders.product[CountOut])
      // stopping before the offset commit lands would make the next run
      // REPLAY the batch (fresh state → stale count): wait for both the
      // sink output and the checkpoint commit file before stopping
      def commitCount = Option(new java.io.File(cp, "commits").list())
        .map(_.count(!_.startsWith("."))).getOrElse(0)
      def runOnce(name: String, minCommits: Int): List[(Long, Long)] = {
        // foreachBatch, not the memory sink: only replayable sinks may
        // resume from a checkpoint
        val buf = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        val q = out.writeStream
          .foreachBatch { (ds: org.apache.spark.sql.Dataset[CountOut], _: Long) =>
            val rows = ds.collect().map(c => (c.user_id, c.n))
            buf.synchronized { buf ++= rows }; ()
          }
          .outputMode("update").option("checkpointLocation", cp)
          .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
        try {
          val deadline = System.currentTimeMillis() + 60000
          while ((buf.synchronized(buf.isEmpty) || commitCount < minCommits) &&
              System.currentTimeMillis() < deadline) Thread.sleep(100)
        } finally q.stop()
        buf.synchronized(buf.toList.sorted)
      }
      val t = Timestamp.valueOf("2024-01-01 10:00:00")
      input.addData((7L, t), (7L, t), (7L, t))
      assert(runOnce("tws_ttl1", 1) == List((7L, 3L)))
      Thread.sleep(2000)  // > 500 ms TTL
      input.addData((7L, t), (7L, t))
      // state expired while idle: the count restarts at 2, NOT 5
      assert(runOnce("tws_ttl2", 2) == List((7L, 2L)))
    }
  }
}

/** KTable⋈KTable FK join changelog semantics: a right-side (referenced
  * table) update must re-emit every referencing left row with the new
  * value — the half of the Kafka Streams FK join a batch equi-join
  * can't show. */
class KTableChangelogSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import graft.streaming.StreamOps
  lazy val spark = TestSession.spark

  test("FK join re-emits joined rows when the right side updates") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val leftIn = MemoryStream[(Long, Long, String)](spark)   // (custkey, nationkey, name)
      val rightIn = MemoryStream[(Long, String)](spark)        // (nationkey, nation name)
      val joined = StreamOps.tableTableFkJoin(
        leftIn.toDS().toDF("c_custkey", "c_nationkey", "c_name"),
        "c_custkey", "c_nationkey", "c_name",
        rightIn.toDS().toDF("n_nationkey", "n_name"),
        "n_nationkey", "n_name")
      val q = joined.writeStream.format("memory").queryName("fk_join")
        .outputMode("update").start()
      try {
        rightIn.addData((1L, "GERMANY"))
        leftIn.addData((10L, 1L, "alice"), (11L, 1L, "bob"), (12L, 2L, "carol"))
        q.processAllAvailable()
        val phase1 = spark.table("fk_join")
          .as[(Long, Long, String, String)].collect().toSet
        // alice+bob join GERMANY; carol's fk=2 has no right row yet
        assert(phase1 == Set((10L, 1L, "alice", "GERMANY"),
          (11L, 1L, "bob", "GERMANY")))
        // RIGHT-side update only — no left input — must fan out to both
        rightIn.addData((1L, "DEUTSCHLAND"))
        q.processAllAvailable()
        val phase2 = spark.table("fk_join")
          .as[(Long, Long, String, String)].collect().toSet
        assert(phase2 == phase1 ++ Set(
          (10L, 1L, "alice", "DEUTSCHLAND"),
          (11L, 1L, "bob", "DEUTSCHLAND")))
        // late right row for fk=2 back-fills carol
        rightIn.addData((2L, "FRANCE"))
        q.processAllAvailable()
        val phase3 = spark.table("fk_join")
          .as[(Long, Long, String, String)].collect().toSet
        assert(phase3.contains((12L, 2L, "carol", "FRANCE")))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}

/** The update-stream + suppress-final pairing (alerting pattern): the
  * same windowed aggregation run in Update mode (running intermediate
  * counts every batch) and Append mode (one final row per window, held
  * until the watermark closes it). */
class SuppressPairingSpec extends org.scalatest.funsuite.AnyFunSuite {
  import java.sql.Timestamp
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.functions._
  lazy val spark = TestSession.spark

  test("update mode emits intermediates; append emits one final on close") {
    import spark.implicits._
    val input = MemoryStream[Timestamp](spark)
    val counts = input.toDS().toDF("ts")
      .withWatermark("ts", "1 second")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"n")
    def start(name: String, mode: String) =
      counts.writeStream.format("memory").queryName(name).outputMode(mode).start()
    val qU = start("sup_update", "update")
    val qF = start("sup_final", "append")
    try {
      def sync(): Unit = { qU.processAllAvailable(); qF.processAllAvailable() }
      input.addData(Timestamp.valueOf("2024-01-01 10:00:00"),
        Timestamp.valueOf("2024-01-01 10:05:00"))
      sync()
      input.addData(Timestamp.valueOf("2024-01-01 10:30:00"))
      sync()
      val w10 = Timestamp.valueOf("2024-01-01 10:00:00")
      val updates = spark.table("sup_update").as[(Timestamp, Long)].collect()
        .filter(_._1 == w10).map(_._2).toList
      // running intermediates per batch: 2 then 3
      assert(updates == List(2L, 3L))
      // window [10:00,11:00) not closed → append has emitted nothing
      assert(spark.table("sup_final").isEmpty)
      input.addData(Timestamp.valueOf("2024-01-01 13:00:00"))
      sync()
      val finals = spark.table("sup_final").as[(Timestamp, Long)].collect()
        .filter(_._1 == w10).map(_._2).toList
      // exactly one final row, equal to the last intermediate
      assert(finals == List(3L))
    } finally { qU.stop(); qF.stop() }
  }
}

/** GraftExtensions as a config-driven injection point: the shared test
  * session is built with
  * spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions
  * (see [[TestSession]]), so plain SQL must resolve the graft_*
  * functions by name — nothing else writes them into a function
  * registry. A fresh `newSession()` proves the injection is
  * session-independent. */
class ExtensionsInjectionSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("spark.sql.extensions injection registers graft_* for SQL") {
    // newSession(): clean function registry — only the injected
    // extensions can resolve these
    val fresh = TestSession.spark.newSession()
    val row = fresh.sql(
      """SELECT graft_cosine(array(1D, 0D), array(1D, 0D)) AS c,
        |graft_dot(array(2D, 3D), array(4D, 5D)) AS d,
        |graft_sorted_isect(array(1L, 2L, 3L), array(2L, 3L, 9L)) AS i,
        |size(graft_lsh_bands(array_repeat(1D, 64))) AS nb,
        |graft_norm(array(3D, 4D)) AS n
        |""".stripMargin).collect()(0)
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(row.getDouble(1) - 23.0) < 1e-9)
    assert(row.getInt(2) == 2)
    assert(row.getInt(3) == 8)
    assert(math.abs(row.getDouble(4) - 5.0) < 1e-9)
  }
}

/** Bucketing: the 100 TB fact⋈fact strategy — pre-partition both tables
  * by the join key at write time so the join needs no exchange at all. */
class BucketingSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("bucketed co-located join plans without a shuffle exchange") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sf).write.mode("overwrite")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("g_orders_bucketed")
      Tables.lineitem(spark, sf).write.mode("overwrite")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("g_lineitem_bucketed")
      val joined = spark.table("g_lineitem_bucketed")
        .join(spark.table("g_orders_bucketed"),
          $"l_orderkey" === $"o_orderkey")
      assert(joined.count() == Tables.lineitem(spark, sf).count())
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      // sanity: the same join on plain parquet DOES shuffle
      val unbucketed = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      unbucketed.count()
      assert(unbucketed.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS g_orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS g_lineitem_bucketed")
    }
  }
}

class SkewJoinSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions._
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("salted join equals the plain equi-join") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    val plain = li.join(o, $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_linenumber", $"o_custkey")
    val salted = graft.operators.SkewJoin.saltedJoin(
      li, o, li("l_orderkey"), o("o_orderkey"),
      li("l_linenumber"), saltFactor = 8)
      .select($"l_orderkey", $"l_linenumber", $"o_custkey")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }
}

/** The optimizer-statistics suite feeding an execution decision: the
  * q26 count-table measurement decides whether a join salts, and the
  * decision must FLIP with the data while both branches return the
  * same rows (VERDICT r8 item 6). */
class StatsDrivenJoinSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions._
  import graft.operators.SkewJoin
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.analyzed.toString

  test("hot key (5-key domain) measures as straggler and salts") {
    import spark.implicits._
    val hot = Tables.events(spark, sf).withColumn("hot_key", $"user_id" % 5)
    val (maxCnt, total) = SkewJoin.keyStats(hot, $"hot_key")
    // 5 roughly-balanced keys: hottest ≈ 20% of rows — a straggler at
    // 32-way parallelism though max/mean ≈ 1
    assert(SkewJoin.shouldSalt(maxCnt, total, targetParallelism = 32))
    val dim = Tables.nation(spark, sf).filter($"n_nationkey" < 5)
      .select($"n_nationkey".cast("long").as("nk"), $"n_name")
    val joined = SkewJoin.statsDrivenJoin(hot, dim, $"hot_key", $"nk",
      $"event_id", saltFactor = 8, targetParallelism = 32)
    // plan-pinned: the salted branch was taken
    assert(planOf(joined).contains("__salt"))
    val plain = hot.join(dim, $"hot_key" === $"nk")
    assert(joined.count() == plain.count())
    assert(joined.select($"event_id", $"nk")
      .exceptAll(plain.select($"event_id", $"nk")).count() == 0)
  }

  test("well-distributed key measures as balanced and stays unsalted") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
    val (maxCnt, total) = SkewJoin.keyStats(li, $"l_orderkey")
    // ≤7 lineitems per order over thousands of orders: max·32 ≪ 2·total
    assert(!SkewJoin.shouldSalt(maxCnt, total, targetParallelism = 32))
    val o = Tables.orders(spark, sf)
    val joined = SkewJoin.statsDrivenJoin(li, o, li("l_orderkey"),
      o("o_orderkey"), li("l_linenumber"), saltFactor = 8,
      targetParallelism = 32)
    // plan-pinned: the plain branch was taken — no salt machinery
    assert(!planOf(joined).contains("__salt"))
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
    assert(joined.count() == plain.count())
  }

  test("empty big side yields (0,0) stats and the plain join, not an NPE") {
    import spark.implicits._
    val empty = Tables.events(spark, sf).filter(lit(false))
      .withColumn("hot_key", $"user_id" % 5)
    val (maxCnt, total) = SkewJoin.keyStats(empty, $"hot_key")
    assert(maxCnt == 0L && total == 0L)
    assert(!SkewJoin.shouldSalt(maxCnt, total, targetParallelism = 32))
    val dim = Tables.nation(spark, sf)
      .select($"n_nationkey".cast("long").as("nk"), $"n_name")
    val joined = SkewJoin.statsDrivenJoin(empty, dim, $"hot_key", $"nk",
      $"event_id", saltFactor = 8, targetParallelism = 32)
    assert(joined.count() == 0)
    assert(!planOf(joined).contains("__salt"))
  }

  test("e22's declared plan still salts under the stats-driven decision") {
    val e22 = graft.operators.Events.queries("e22_skew_salted_join")(
      spark, sf)
    assert(planOf(e22).contains("__salt"))
    assert(e22.count() == 5)
  }
}

class ForeachBatchSinkSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.streaming.StreamOps
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("foreachBatch parquet sink writes every micro-batch") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_fb").toString
    val q = StreamOps.eventsStream(spark, sf)
      .select(col("event_id"), col("event_type"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("append").parquet(s"$out/data")
      }
      .start()
    q.processAllAvailable(); q.stop()
    val written = spark.read.parquet(s"$out/data").count()
    assert(written == Tables.events(spark, sf).count())
  }
}

/** Multi-batch streaming semantics: watermark advancement drops late
  * rows; checkpointed state survives a query restart. */
class WatermarkSemanticsSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.functions._
  lazy val spark = TestSession.spark

  test("rows later than the watermark are dropped from windowed aggs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val agg = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "10 minutes").as("w"), $"k")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"k", $"n")
    val q = agg.writeStream.format("memory")
      .queryName("wm_test").outputMode("append").start()
    try {
      // batch 1: two rows in the 10:00 window
      input.addData((ts(1), "a"), (ts(5), "a"))
      q.processAllAvailable()
      // batch 2: advance event time far ahead -> watermark passes 10:10
      input.addData((ts(40), "a"))
      q.processAllAvailable()
      // batch 3: a LATE row for the already-closed 10:00 window + observer
      input.addData((ts(2), "a"), (ts(45), "a"))
      q.processAllAvailable()
      // batch 4: close the 10:40 window too
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 11:30:00"), "a"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("wm_test")
      .select($"w_start", $"n").as[(java.sql.Timestamp, Long)].collect().toMap
    // the 10:00 window must have counted ONLY the 2 on-time rows — the
    // late ts(2) row arrived after the watermark closed the window
    assert(rows(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")) == 2L)
    // the 10:40 window saw both its rows
    assert(rows(java.sql.Timestamp.valueOf("2024-01-01 10:40:00")) == 2L)
  }

  test("late-events filter uses the PREVIOUS batch's watermark (SPARK-24634 lag)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // no-data micro-batches would advance the lagged filter between
    // data batches and mask the lag — the s38 file-source replay has
    // none between its file triggers, so disable them here too
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNd = spark.conf.get(ndKey)
    spark.conf.set(ndKey, "false")
    val input = MemoryStream[(java.sql.Timestamp, String)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val agg = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "60 minutes").as("w"), $"k")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"k", $"n")
    val q = agg.writeStream.format("memory")
      .queryName("wm_lag_test").outputMode("append").start()
    try {
      // batch 1: event time jumps to 12:00 → the CURRENT watermark
      // after this batch is 11:55
      input.addData((ts("2024-01-01 12:00:00"), "a"))
      q.processAllAvailable()
      // batch 2: a row in the long-closed 09:00 window. Under a
      // current-watermark late filter (11:55) it would be dropped;
      // the late-events filter actually uses the PREVIOUS batch's
      // watermark (epoch 0), so it is KEPT — this lag is the contract
      // the s38 oracle replays (threshold = running max of batches
      // ≤ b−2)
      input.addData((ts("2024-01-01 09:10:00"), "a"))
      q.processAllAvailable()
      // batch 3: a second 09:xx row now meets the caught-up filter
      // (11:55) and must be dropped; observer row advances nothing
      input.addData((ts("2024-01-01 09:20:00"), "a"))
      q.processAllAvailable()
      // close everything
      input.addData((ts("2024-01-01 14:30:00"), "a"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 16:30:00"), "a"))
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.set(ndKey, prevNd)
    }
    val rows = spark.table("wm_lag_test")
      .select($"w_start", $"n").as[(java.sql.Timestamp, Long)].collect().toMap
    assert(rows.get(ts("2024-01-01 09:00:00")) == Some(1L),
      s"expected the batch-2 late row kept (lagged filter) and the " +
        s"batch-3 one dropped: $rows")
  }

  test("incremental ingest state (NearDupProcessor) survives a restart") {
    import spark.implicits._
    import graft.streaming.{BandEvent, BandMatch, NearDupProcessor, StreamOps}
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_nd_ckpt").toString
    val input = MemoryStream[BandEvent]
    val out = input.toDS()
      .groupByKey(_.bucket)
      .transformWithState(new NearDupProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[BandMatch])
      .toDF()
    // memory sink refuses checkpoint recovery; collect via foreachBatch
    // (the recoverable sink shape)
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def start() = out.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          sunk.add((r.getAs[Long]("new_doc"), r.getAs[Long]("dup_of"))))
      }
      .outputMode("update")
      .option("checkpointLocation", ckpt).start()
    StreamOps.withConf(spark, StreamOps.RocksDb: _*) {
      // run 1: only corpus rows — builds bucket state, emits nothing
      val q1 = start()
      input.addData(BandEvent("b1", "O", 2L), BandEvent("b1", "O", 8L),
        BandEvent("b2", "O", 4L))
      q1.processAllAvailable(); q1.stop()
      // run 2 from the SAME checkpoint: probes must see run 1's state
      val q2 = start()
      input.addData(BandEvent("b1", "N", 5L), BandEvent("b3", "N", 7L))
      q2.processAllAvailable(); q2.stop()
    }
    val got = sunk.toArray(Array.empty[(Long, Long)])
    // b1's min corpus doc (2) found after restart; unseen b3 silent
    assert(got.toSeq == Seq((5L, 2L)), s"state lost across restart: ${got.toSeq}")
  }

  test("streaming aggregation state survives a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val input = MemoryStream[(Long, Double)]
    val agg = input.toDF().toDF("user", "v")
      .groupBy($"user")
      .agg(sum($"v".cast("decimal(18,4)")).cast("double").as("total"))

    def start() = agg.writeStream.format("memory")
      .queryName("ckpt_test").outputMode("complete")
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    input.addData((1L, 1.0), (1L, 2.0), (2L, 5.0))
    q1.processAllAvailable(); q1.stop()
    // restart from the same checkpoint: prior state must be recovered
    val q2 = start()
    input.addData((1L, 4.0))
    q2.processAllAvailable(); q2.stop()
    val totals = spark.table("ckpt_test")
      .as[(Long, Double)].collect().toMap
    assert(totals(1L) == 7.0, s"state lost across restart: $totals")
    assert(totals(2L) == 5.0)
  }
}

class TrainingDataPipelineSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.pipeline.TrainingDataPipeline
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("curation pipeline composes quality gate + exact/near dedup") {
    import spark.implicits._
    val all = Tables.documents(spark, sf).count()
    val curated = TrainingDataPipeline.curate(spark, sf)
    val n = curated.count()
    assert(n > 0 && n <= all)
    // survivors are unique and pass the gate
    assert(curated.select($"doc_id").distinct().count() == n)
    assert(curated.filter($"quality" < 0.5).count() == 0)
    // no surviving near-dup pair: both ends of a pair never co-survive
    val pairs = graft.operators.TextOps.minhashLsh(spark, sf)
    val surviving = curated.select($"doc_id".as("d2"))
    assert(pairs.join(surviving, "d2").count() == 0)
  }

  test("embedding enrichment keeps curated rows that have vectors") {
    val e = TrainingDataPipeline.curateWithEmbeddings(spark, sf)
    assert(e.count() > 0)
    assert(e.columns.contains("embedding") && e.columns.contains("quality"))
  }

  test("curate-and-pack drops contaminated docs and conserves tokens") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val packed = TrainingDataPipeline.curateAndPack(spark, sf)
    assert(packed.count() > 0)
    // token conservation: packed totals == curated TRAIN-split docs
    // minus the two gates' drops — held-out (val/test) and unsampled
    // docs must never be packed (that's the leak decontamination
    // exists to prevent)
    val curated = TrainingDataPipeline.curate(spark, sf)
    val trainIds = graft.operators.TextOps
      .withSampleSplit(Tables.documents(spark, sf))
      .filter($"split" === "train").select($"doc_id")
    val dropRep = graft.operators.TextOps.repetition(spark, sf)
      .filter($"dup_3gram_frac" > 0.5).select($"doc_id")
    val dropCon = graft.operators.TextOps.decontaminate(spark, sf)
      .select($"doc_id")
    val survivors = curated
      .join(trainIds, Seq("doc_id"), "left_semi")
      .join(dropRep, Seq("doc_id"), "left_anti")
      .join(dropCon, Seq("doc_id"), "left_anti")
    val expTokens = survivors.agg(sum($"n_tokens")).collect()(0).getLong(0)
    val gotTokens = packed.agg(sum($"n_tokens")).collect()(0).getLong(0)
    assert(gotTokens == expTokens)
    // dense per-source numbering survives the composition
    packed.groupBy($"source")
      .agg(min($"seq_id").as("lo"), max($"seq_id").as("hi"),
        countDistinct($"seq_id").as("n"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("lo") == 0L)
        assert(r.getAs[Long]("n") == r.getAs[Long]("hi") + 1)
      }
  }
}

/** Streaming KStream ⋈ KTable through the DSL: a MemoryStream of
  * records enriched against a compacted changelog table (static side).
  * Kafka Streams semantics: each stream record sees the table's LATEST
  * value for its key at processing time; records with no table entry
  * are dropped by the inner join and preserved null-padded by the left
  * join. Each micro-batch plans the static side as a fresh join, so no
  * state store is involved — the Spark analogue of the non-windowed
  * stream-table join. */
class StreamTableJoinSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.functions._
  import graft.api._
  lazy val spark = TestSession.spark

  test("stream enriches against latest table state; left join pads misses") {
    import spark.implicits._
    // changelog with an UPDATE for key 1: ts=2 row must win compaction
    val changelog = Seq(
      (1L, 1L, "v1_old"), (1L, 2L, "v1_new"), (2L, 5L, "v2")
    ).toDF("k", "ts", "v")
    val table = GraftStreams.table(changelog, "k", "ts")
    assert(table.toDF.as[(Long, Long, String)].collect().toSet ==
      Set((1L, 2L, "v1_new"), (2L, 5L, "v2")))

    val in = MemoryStream[(Long, Long, String)](spark)
    val stream = GraftStreams.stream(
      in.toDS().toDF("k", "ev_ts", "payload"), "k", "ev_ts")

    val inner = stream.join(table).toDF
      .select($"k", $"payload", $"v")
    val qi = inner.writeStream.format("memory").queryName("st_inner")
      .outputMode("append").start()
    try {
      in.addData((1L, 10L, "a"), (2L, 11L, "b"), (3L, 12L, "c"))
      qi.processAllAvailable()
      val got = spark.table("st_inner").as[(Long, String, String)]
        .collect().toSet
      // key 1 sees the COMPACTED (latest) value; key 3 has no entry
      assert(got == Set((1L, "a", "v1_new"), (2L, "b", "v2")))
    } finally qi.stop()

    val left = stream.join(table, "left_outer").toDF
      .select($"k", $"payload", $"v")
    val ql = left.writeStream.format("memory").queryName("st_left")
      .outputMode("append").start()
    try {
      in.addData((4L, 13L, "d"))
      ql.processAllAvailable()
      val got = spark.table("st_left").as[(Long, String, String)]
        .collect().toSet
      // miss is preserved with a null value column (leftJoin contract)
      assert(got.contains((4L, "d", null)))
    } finally ql.stop()
  }
}

/** The UPDATING-table half of stream⋈table ([[graft.streaming
  * .StreamTableJoinProcessor]]): table updates are visible to LATER
  * stream records only — no re-emit of earlier ones (the asymmetry vs
  * the FK join's fan-out, KTableChangelogSpec), and stream records with
  * no table entry yet are dropped (inner semantics). The declared query
  * s15 drives the same processor through mtime-ordered files against
  * the DuckDB oracle; this spec isolates the state machine. */
class StreamTableUpdateSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
  import graft.streaming.{StEvent, StJoined, StreamTableJoinProcessor}
  lazy val spark = TestSession.spark

  test("table updates reach later stream records; no fan-out; misses drop") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[StEvent](spark)
      val out = in.toDS()
        .groupByKey(_.nk)
        .transformWithState(new StreamTableJoinProcessor,
          TimeMode.None(), OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[StJoined])
      val q = out.writeStream.format("memory").queryName("st_update")
        .outputMode("update").start()
      def got() = spark.table("st_update")
        .as[StJoined].collect().toSet
      try {
        def t(nk: Long, name: String) = StEvent(nk, "T", -1L, -1L, null, name)
        def s(nk: Long, id: Long) = StEvent(nk, "S", id, 100 + id, "view", null)
        in.addData(t(1L, "OLD_A"))
        in.addData(s(1L, 10L), s(2L, 11L))  // nk=2 has no table entry yet
        q.processAllAvailable()
        assert(got() == Set(StJoined(10L, 110L, "view", "OLD_A")))
        // table UPDATE alone must emit nothing (no fan-out to event 10)
        in.addData(t(1L, "NEW_A"))
        q.processAllAvailable()
        assert(got() == Set(StJoined(10L, 110L, "view", "OLD_A")))
        // ...but a LATER stream record sees the updated value
        in.addData(s(1L, 12L))
        q.processAllAvailable()
        assert(got() == Set(
          StJoined(10L, 110L, "view", "OLD_A"),
          StJoined(12L, 112L, "view", "NEW_A")))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}

/** v04 (brute-force exact near-dup, O(n²) — deliberately NOT a declared
  * query) lives on here as the recall oracle for v08 (LSH-bounded).
  * LSH trades recall for boundedness; this spec quantifies the trade on
  * the real fixture: every v08 pair must appear in v04's exact output
  * with the same cosine (zero false positives by construction — v08
  * verifies candidates with exact cosine), and recall on the
  * NEAR-IDENTICAL population (cos ≥ 0.9, the dedup target) must be
  * high, while overall ≥ 0.4 recall is reported but only loosely
  * bounded (moderate-similarity pairs are allowed to slip). */
class LshRecallSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("v08 ⊆ v04 exactly; high recall on near-identical pairs") {
    import spark.implicits._
    val exact = graft.operators.VectorOps.embedNearDup(spark, sf)
      .as[(Long, Long, Double)].collect().toMap2
    val lsh = graft.operators.VectorOps.lshNearDup(spark, sf)
      .as[(Long, Long, Double)].collect().toMap2
    assert(lsh.nonEmpty, "fixture should contain near-dup pairs")
    // no false positives, cosines identical
    lsh.foreach { case (k, c) =>
      assert(exact.get(k).contains(c), s"pair $k not in exact output")
    }
    // recall on the population LSH dedup is FOR: near-identical pairs
    val hot = exact.filter(_._2 >= 0.9)
    if (hot.nonEmpty) {
      val recalled = hot.keys.count(lsh.contains)
      assert(recalled.toDouble / hot.size >= 0.9,
        s"near-identical recall $recalled/${hot.size}")
    }
    val overall = exact.keys.count(lsh.contains).toDouble / exact.size
    info(f"recall@cos>=0.4: $overall%.3f (${lsh.size}/${exact.size})")
  }

  test("r14 scale caps never bind at fixture scale: sub-blocked v08 == " +
    "unblocked band join; buckets under LshBlk; anchor ids under bound") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.1"
    // (a) the declared (rank-sub-blocked) pair set equals the UNBLOCKED
    // band join's verified pairs — an independent recomputation without
    // the blk column, so the cap provably changes nothing at fixture
    // scale (the bench SF, where the oracle hash also pins it)
    val e = graft.operators.VectorOps.embDouble(spark, sf01)
    val bands = graft.operators.VectorOps.bandCodes(spark, sf01)
    val unblocked = bands.as("a")
      .join(bands.as("b"), $"a.band" === $"b.band" &&
        $"a.code" === $"b.code" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("d1"), $"b.vec_id".as("d2")).distinct()
      .join(e.select($"vec_id".as("d1"), $"v".as("v1")), "d1")
      .join(e.select($"vec_id".as("d2"), $"v".as("v2")), "d2")
      .withColumn("cos", call_function("graft_cosine", $"v1", $"v2"))
      .filter($"cos" >= 0.4)
      .select($"d1", $"d2", round($"cos", 6).as("cos"))
      .as[(Long, Long, Double)].collect().toSet
    val declared = graft.operators.VectorOps.lshNearDup(spark, sf01)
      .as[(Long, Long, Double)].collect().toSet
    assert(declared === unblocked,
      "LshBlk sub-blocking changed the fixture pair set — the cap binds")
    // (b) the margin behind (a): every (band, code) bucket is smaller
    // than LshBlk at the bench SF
    val maxBucket = bands.groupBy($"band", $"code").count()
      .agg(max($"count")).head.getLong(0)
    assert(maxBucket < graft.operators.VectorOps.LshBlk,
      s"max bucket $maxBucket >= LshBlk — blocking now binds at sf0.1")
    // (c) v11/v14's anchor-batch id bound covers every fixture vec_id
    val maxId = e.agg(max($"vec_id")).head.getLong(0)
    assert(maxId < graft.operators.VectorOps.KnnAnchorIdBound,
      s"fixture vec_id $maxId >= KnnAnchorIdBound — anchors truncated")
  }

  test("band planes: >=90% recall on near-identical twins, selective on random pairs") {
    // The fixtures contain no cos>=0.9 pairs, so the recall contract
    // above is vacuous there; pin the PLANE QUALITY directly instead.
    // (This is the property a correlated plane formula silently broke:
    // buckets collapsed, every pair collided, and the "LSH" was an
    // all-pairs scan in disguise.)
    import spark.implicits._
    import org.apache.spark.sql.functions.call_function
    val rnd = new scala.util.Random(42)
    val dim = 64
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def cosine(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    val base = Array.fill(300)(unit())
    // twin = base + small Gaussian noise → cos ≈ 0.97
    val twins = base.map { v =>
      val t = v.map(_ + 0.12 * rnd.nextGaussian() / math.sqrt(dim.toDouble))
      assert(cosine(v, t) >= 0.9)
      t
    }
    val df = (base ++ twins).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("id", "v")
    val codes = df.select($"id", call_function("graft_lsh_bands", $"v").as("c"))
      .as[(Long, Seq[Long])].collect().toMap
    def collide(a: Long, b: Long): Boolean =
      codes(a).zip(codes(b)).exists { case (x, y) => x == y }
    val recalled = base.indices.count(i => collide(i.toLong, (i + 300).toLong))
    assert(recalled >= 270, s"near-identical twin recall $recalled/300 < 90%")
    // unrelated base pairs (cos ~ 0): collision must be RARE — the
    // selectivity half of the LSH contract (expected ~8/256 ≈ 3%)
    val randomHits = (0 until 299).count(i => collide(i.toLong, (i + 1).toLong))
    assert(randomHits <= 30, s"random-pair collisions $randomHits/299 > 10%")
  }

  implicit class PairMap(rows: Array[(Long, Long, Double)]) {
    def toMap2: Map[(Long, Long), Double] =
      rows.map { case (a, b, c) => (a, b) -> c }.toMap
  }
}

/** Accuracy-bound checks for the sketch queries. Since r11 the x01–x04
  * sketches are DETERMINISTIC and oracle-gated (DuckDB replays the
  * registers/bins/threshold verbatim), so the hash gate proves
  * cross-engine agreement; what it cannot prove is that the sketch
  * approximates the EXACT answer well — that accuracy contract is
  * pinned here, against the exact queries and the engine built-ins. */
class SketchBoundsSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("x01 deterministic-HLL estimates within 3 sigma of exact") {
    import spark.implicits._
    val exact = graft.operators.Events.distinctUsers(spark, sf)
      .select($"event_type", $"n_users")
      .as[(String, Long)].collect().toMap
    val approx = graft.operators.Extras.approxDistinct(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(approx.nonEmpty)
    approx.foreach { case (tpe, nBuckets, est) =>
      val n = exact(tpe).toDouble
      assert(nBuckets >= 1L && nBuckets <= 256L)
      // m = 256 registers → rsd = 1.04/√256 = 6.5%; allow 3 sigma
      assert(math.abs(est - n) / n <= 0.20, s"$tpe: $est vs $n")
    }
  }

  test("x01's RAW-branch estimate holds at 5000 distinct keys") {
    import org.apache.spark.sql.functions.col
    // the fixture SFs only exercise the linear-counting branch (n ≤
    // 1500 < 2.5m·α headroom with most registers occupied at sf0.1 but
    // tiny at the spec's sf0.001) — this synthetic input fills all 256
    // registers so the αm²/Z formula itself is pinned; the r11 Z-scale
    // bug (dividing by 2²⁴, −50% estimates) fails exactly here
    val ids = spark.range(5000L).select(col("id").as("user_id"))
    val est = graft.operators.Extras.hllEstimateOf(ids)
    assert(math.abs(est - 5000.0) / 5000.0 <= 0.20, s"raw-branch est=$est")
  }

  test("x01's RAW-branch estimate EXACTLY equals a plain-Scala HLL with the published alpha") {
    import org.apache.spark.sql.functions.col
    // the r13 mutation-kill audit's one survivor: a 2.8% alpha drift
    // (0.7213 -> 0.7013) stayed inside the 3-sigma tolerance of every
    // accuracy pin (rsd at m=256 is 6.5%). This fixture kills it: the
    // full register build + readout recomputed driver-side with java
    // MessageDigest md5 and the PUBLISHED alpha_256 hard-coded HERE
    // (the d28 published-constants discipline) — exact Long equality,
    // so ANY engine-side constant drift (alpha, the 2^25 Z scale, the
    // hash geometry, the selector at this n) fails.
    val n = 5000L
    val ids = spark.range(n).select(col("id").as("user_id"))
    val est = graft.operators.Extras.hllEstimateOf(ids)
    val md = java.security.MessageDigest.getInstance("MD5")
    val regs = scala.collection.mutable.Map.empty[Long, Long]
    (0L until n).foreach { id =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .take(4).map(b => "%02x".format(b & 0xff)).mkString
      val h = java.lang.Long.parseLong(hex, 16)
      val w = 1L << 24
      val (bucket, rem) = (Math.floorDiv(h, w), h % w)
      val rho =
        if (rem == 0L) 25L
        else 25L - (64 - java.lang.Long.numberOfLeadingZeros(rem))
      regs(bucket) = math.max(regs.getOrElse(bucket, Long.MinValue), rho)
    }
    val (m, z25) = (256, 1L << 25)
    val nb = regs.size
    val s = regs.values.map(r => 1L << (25 - r).toInt).sum
    val zd = (s + (m - nb).toLong * z25) / z25.toDouble
    val alphaM2 = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
    val eRaw = alphaM2 / zd
    assert(!(eRaw <= 640.0 && nb < m), "expected the RAW branch at n=5000")
    assert(est == math.round(eRaw), s"engine $est vs plain-Scala ${math.round(eRaw)}")
  }

  test("hllEst stays accurate ACROSS the linear/raw branch boundary") {
    import org.apache.spark.sql.functions.col
    // the branch SELECTOR (eRaw <= 640 && nb < m) is itself a shared
    // constant both engines mirror: if 640 (= 2.5m) drifted, fixtures
    // (linear branch) and the 5000-key pin (raw branch) could both
    // still route correctly while mid-range cardinalities take the
    // WRONG formula — raw below ~2.5m loses linear counting's
    // small-range correction, linear at full occupancy degenerates.
    // This sweep crosses the boundary, so a selector drift surfaces as
    // an accuracy blowout at some n even though both endpoint pins
    // stay green. Deterministic: fixed md5 hashing, fixed inputs.
    for (n <- Seq(100L, 300L, 500L, 800L, 1200L, 2000L, 3500L)) {
      val ids = spark.range(n).select(col("id").as("user_id"))
      val est = graft.operators.Extras.hllEstimateOf(ids)
      assert(math.abs(est - n.toDouble) / n <= 0.20,
        s"n=$n: est=$est drifts beyond 3 sigma — branch selector bug?")
    }
  }

  test("x06 inclusion-exclusion clamps at 0 when forced negative") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // No fixture reaches the GREATEST(0, ·) branch (event types share
    // most users, the raw subtraction stays positive), so the clamp
    // would otherwise be formula text the 232/232 hash gate never
    // executes. Force it with synthetic NEAR-DISJOINT registers: A
    // fills buckets 0..127 at rho=1, B fills 128..255 — each side
    // reads off the linear branch (est 177), their union fills all 256
    // registers and reads off the raw branch (est 368 > 354), so the
    // un-clamped intersection is negative by construction.
    val a = spark.range(0L, 128L).select(lit("A").as("event_type"),
      $"id".as("bucket"), lit(1).as("rho"))
    val b = spark.range(128L, 256L).select(lit("B").as("event_type"),
      $"id".as("bucket"), lit(1).as("rho"))
    val rows = graft.operators.Extras.hllSetOpsOf(a.union(b))
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(rows.length == 1)
    val (_, _, estA, estB, estU, estI) = rows.head
    // the synthetic must actually reach the branch: raw subtraction < 0
    assert(estA + estB - estU < 0,
      s"synthetic no longer forces the negative branch: " +
        s"$estA + $estB - $estU — rebuild the register frames")
    assert(estI == 0L, s"clamp failed: est_intersect=$estI")
  }

  test("e55 exact percentiles equal a direct sorted recomputation") {
    import org.apache.spark.sql.functions.{col, round => fround}
    // independent truth for the type-1 read-off (target rank
    // max(1, ceil(N*p/100)) as an actual data value): sort the cents
    // multiset locally and index it, deriving the rank via float ceil
    // (a different derivation than the query's int64 fdiv(n*p+99, 100),
    // so a drifted +99/100 constant diverges here)
    val cs = Tables.events(spark, sf)
      .select(fround(col("value") * 100, 0).cast("long").as("c"))
      .collect().map(_.getLong(0)).sorted
    val n = cs.length
    val got = graft.operators.Events.exactPercentiles(spark, sf).collect()
      .map(r => r.getAs[Long]("pct") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("rank"),
          r.getAs[Double]("value")))).toMap
    assert(got.keySet == Set(10L, 25L, 50L, 75L, 90L, 99L))
    for ((p, (gn, rank, v)) <- got) {
      val tgt = math.max(1L, math.ceil(n * p / 100.0).toLong)
      assert(gn == n.toLong)
      assert(rank == tgt, s"p$p: rank $rank != ceil target $tgt")
      assert(v == cs(tgt.toInt - 1) / 100.0, s"p$p: $v")
    }
  }

  test("x01 tracks the engine's HLL++ baseline (approx_count_distinct)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the built-in sketch the deterministic x01 replaced for oracle
    // gating — kept as the accuracy baseline: both must agree with
    // exact within their stated rsd, hence with each other within the
    // bound sum
    val builtin = Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", 0.005).as("b"))
      .as[(String, Long)].collect().toMap
    graft.operators.Extras.approxDistinct(spark, sf)
      .as[(String, Long, Long)].collect()
      .foreach { case (tpe, _, est) =>
        val b = builtin(tpe).toDouble
        assert(math.abs(est - b) / b <= 0.21,
          s"$tpe: graft-HLL $est vs builtin $b")
      }
  }

  test("x03 daily-merged registers give EXACTLY the direct x01 estimate") {
    import spark.implicits._
    // max is the HLL monoid: merging per-day register tables must
    // reproduce the direct registers bit-for-bit — the mergeability
    // property itself, pinned as exact equality (not a tolerance)
    val direct = graft.operators.Extras.approxDistinct(spark, sf)
      .select($"event_type", $"est_users")
      .as[(String, Long)].collect().toMap
    val merged = graft.operators.Extras.hllUnion(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(merged.nonEmpty)
    merged.foreach { case (tpe, nDays, est) =>
      assert(nDays > 1, s"$tpe: mergeability untested with $nDays sketch")
      assert(est == direct(tpe), s"$tpe: merged $est != direct ${direct(tpe)}")
    }
  }

  test("e17 exact percentiles equal an integer-rational direct recomputation") {
    import org.apache.spark.sql.functions.{col, round => fround}
    val byFlag = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"),
        fround(col("l_extendedprice") * 100, 0).cast("long").as("c"))
      .collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Long]("c"))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def pct(cs: Array[Long], k: Int): Double = {
      val n = cs.length.toLong
      val num = (n - 1) * k
      val lo = cs((num / 100).toInt)
      val hi = cs(math.min(num / 100 + 1, n - 1).toInt)
      val fn = num % 100
      val interp = lo * (100 - fn) + hi * fn
      Math.floorDiv(interp * 2 + 100, 200L) / 100.0
    }
    val got = graft.operators.Extras.exactPercentiles(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("p50"), r.getAs[Double]("p90"),
          r.getAs[Double]("p99"))).toMap
    byFlag.foreach { case (f, cs) =>
      assert(got(f) == ((pct(cs, 50), pct(cs, 90), pct(cs, 99))), f)
    }
  }

  test("x02 binned quantiles within one bin width of the exact type-1 values") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, round => fround}
    // exact TYPE-1 percentile (value at rank ⌈n·p/100⌉ — x02's own rank
    // convention; e17 interpolates between ranks, a different
    // convention whose value can sit in the next bin at sparse tails)
    val byFlag = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"),
        fround(col("l_extendedprice") * 100, 0).cast("long").as("c"))
      .collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Long]("c"))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def exactT1(cs: Array[Long], k: Int): Double = {
      val n = cs.length.toLong
      cs((((n * k + 99) / 100) - 1).toInt) / 100.0
    }
    val approx = graft.operators.Extras.approxQuantiles(spark, sf)
      .as[(String, Long, Double, Double, Double)].collect()
    assert(approx.nonEmpty)
    approx.foreach { case (flag, n, p50, p90, p99) =>
      val cs = byFlag(flag)
      assert(n == cs.length.toLong)
      // the target rank's value lies IN the landing bin (cumBelow <
      // target ≤ cum) and the read-off never leaves that bin's closed
      // upper edge → within one $100 bin width, the e54 contract
      for ((k, got) <- Seq(50 -> p50, 90 -> p90, 99 -> p99)) {
        val want = exactT1(cs, k)
        assert(math.abs(got - want) <= 100.0, s"$flag p$k: $got vs $want")
      }
    }
  }

  test("x05 count-min estimates never undercount, over by at most eN/w") {
    import spark.implicits._
    val rows = graft.operators.Extras.countMin(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.length == 10)
    val n = Tables.events(spark, sf).count()
    val bound = math.ceil(math.E * n / 256.0).toLong
    rows.foreach { case (u, exact, cms) =>
      // the CMS guarantee: a counter only ever ADDS colliding keys
      assert(cms >= exact, s"user $u: cms $cms < exact $exact")
      assert(cms - exact <= bound,
        s"user $u: overcount ${cms - exact} beyond eN/w = $bound")
    }
  }

  test("x06 sketch intersection tracks the exact pairwise overlap") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val byType = Tables.events(spark, sf)
      .select($"event_type", $"user_id").distinct()
      .as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rows = graft.operators.Extras.hllSetOps(spark, sf)
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(rows.length == byType.size * (byType.size - 1) / 2)
    rows.foreach { case (a, b, _, _, estU, estI) =>
      val exU = (byType(a) | byType(b)).size.toDouble
      val exI = (byType(a) & byType(b)).size.toDouble
      // union rides one merged HLL (rsd 6.5%, 3 sigma); the
      // inclusion-exclusion intersection compounds three estimates —
      // allow the summed bound (|A|+|B|+|A∪B| ≤ 3·|A∪B| at 20% each)
      assert(math.abs(estU - exU) / exU <= 0.20, s"($a,$b) union: $estU vs $exU")
      assert(math.abs(estI - exI) <= 0.60 * exU,
        s"($a,$b) intersect: $estI vs $exI (union $exU)")
    }
  }

  test("x04 exact heavy hitters match a local recomputation of the threshold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val trueCounts = Tables.events(spark, sf)
      .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect()
    val expected = trueCounts.groupBy(_._1).toSeq.flatMap { case (tpe, rows) =>
      val tot = rows.map(_._3).sum
      val nu = rows.length.toLong
      rows.collect { case (_, u, n) if 2 * n * nu > 3 * tot => (tpe, u, n) }
    }.toSet
    val got = graft.operators.Extras.heavyHitters(spark, sf)
      .as[(String, Long, Long)].collect().toSet
    assert(got.nonEmpty, "degenerate: no heavy hitters at this SF")
    assert(got == expected)
  }

  test("x04's MG sketch keeps every true heavy hitter with bounded error") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the bounded-state sketch face of x04 (merge-order-dependent
    // counters → spec-layer, not oracle-gated; the GATED x04 is the
    // exact support-threshold readout above)
    val k = 8
    val trueCounts = Tables.events(spark, sf)
      .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val mg = udaf(new graft.functions.HeavyHittersAggregator(k),
      org.apache.spark.sql.Encoders.scalaLong)
    val sketch = Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(mg($"user_id").as("hh"))
      .select($"event_type", explode($"hh").as("h"))
      .select($"event_type", $"h.id".as("user_id"), $"h.min_count")
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    trueCounts.foreach { case (tpe, byUser) =>
      val n = byUser.values.sum
      val thresh = n.toDouble / (k + 1)
      val kept = sketch.getOrElse(tpe, Map.empty)
      byUser.foreach { case (user, c) =>
        // MG guarantee 1: true frequency > n/(k+1) ⇒ key survives
        if (c > thresh)
          assert(kept.contains(user),
            s"$tpe: heavy user $user (n=$c > $thresh) evicted")
        // MG guarantee 2: survivor counters never overcount and
        // undercount by at most n/(k+1)
        kept.get(user).foreach { est =>
          assert(est <= c, s"$tpe/$user: counter $est overcounts $c")
          assert(c - est <= thresh.ceil.toLong,
            s"$tpe/$user: undercount ${c - est} beyond bound $thresh")
        }
      }
    }
  }
}

/** The session-keyed intermediate cache (minhash signatures / LSH pair
  * tables) must never hand one session's checkpointed DataFrame to a
  * different session: entries are keyed by session identity and
  * re-checked by reference on lookup. */
class SessionCacheSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("each session gets its own cached pair table; hits stay per-session") {
    val s2 = spark.newSession()
    // the cache lives at the lshPairs layer (minhashLsh wraps it in a
    // fresh orderBy per call, so instance identity is asserted on the
    // cached layer, answer equality on the public one)
    val a1 = graft.operators.TextOps.lshPairs(spark, sf)
    val a2 = graft.operators.TextOps.lshPairs(spark, sf)
    val b1 = graft.operators.TextOps.lshPairs(s2, sf)
    // same session → cache hit (same instance); other session → its own
    assert(a1 eq a2)
    assert(!(a1 eq b1))
    // each result is bound to the session that asked for it
    assert(a1.sparkSession eq spark)
    assert(b1.sparkSession eq s2)
    // and both compute the same answer
    assert(a1.exceptAll(b1).count() == 0 && b1.exceptAll(a1).count() == 0)
  }
}

/** Physical-plan audit over EVERY declared batch query: the "no
  * quadratic plan in the query set" claim, asserted rather than
  * reviewed. CartesianProductExec (shuffle nested-loop over both full
  * sides) must never appear; BroadcastNestedLoopJoinExec is tolerated
  * only because every use here broadcasts a provably tiny side (a
  * 1-row query vector / scalar), which the companion check pins by
  * requiring a BroadcastExchange/BroadcastQueryStage beneath it.
  * Streaming queries are excluded: invoking them executes the whole
  * stream, and their batch analogues are all audited here. */
class PlanAuditSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("no declared batch query plans a cartesian product; NL joins are broadcast-fed") {
    val offenders = SparkEntry.queries.toSeq
      .filterNot(_._1.startsWith("s"))
      .sortBy(_._1)
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        val cartesian = plan.contains("CartesianProduct")
        // every BroadcastNestedLoopJoin line must co-occur with a
        // broadcast exchange somewhere in the same plan tree
        val nlUnfed = plan.contains("BroadcastNestedLoopJoin") &&
          !(plan.contains("BroadcastExchange") ||
            plan.contains("BroadcastQueryStage"))
        if (cartesian) Some(s"$name: CartesianProduct")
        else if (nlUnfed) Some(s"$name: NL join without broadcast")
        else None
      }
    assert(offenders.isEmpty,
      s"quadratic plans in declared queries:\n  ${offenders.mkString("\n  ")}")
  }
}

/** Direct Scala recomputations of the round-8 additions (e44 windowed
  * funnel, e45 selectKey re-key, d44 bigram coverage) — the same
  * replay-the-semantics style as the e41/e43 specs, independent of the
  * DuckDB oracle. */
class FunnelRekeyCoverageSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("e44 funnel equals a direct per-user state-machine replay") {
    import spark.implicits._
    val winUs = 6L * 3600 * 1000000 // 6h in µs
    val byUser = Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type").collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("ts").toInstant.toEpochMilli * 1000 +
          r.getAs[java.sql.Timestamp]("ts").toInstant.getNano / 1000 % 1000,
        r.getAs[Long]("event_id"), r.getAs[String]("event_type")))
      .groupBy(_._1)
    val stages = byUser.values.map { rows =>
      var lv = Long.MinValue; var lc = Long.MinValue
      var s1 = 0; var s2 = 0; var s3 = 0
      rows.sortBy(r => (r._2, r._3)).foreach { case (_, us, _, tpe) =>
        if (tpe == "view") { s1 = 1; lv = math.max(lv, us) }
        if (tpe == "click" && lv != Long.MinValue && us <= lv + winUs) {
          s2 = 1; lc = math.max(lc, us)
        }
        if (tpe == "purchase" && lc != Long.MinValue && us <= lc + winUs)
          s3 = 1
      }
      s1 + s2 + s3
    }.toSeq
    val want = stages.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val out = graft.operators.Events.funnelStages(spark, sf).collect()
    val got = out
      .map(r => r.getAs[Long]("stage") -> r.getAs[Long]("n_users")).toMap
    assert(got == want)
    // n_reached is the suffix sum of n_users over descending stage
    out.foreach { r =>
      val st = r.getAs[Long]("stage")
      val reach = want.filter(_._1 >= st).values.sum
      assert(r.getAs[Long]("n_reached") == reach)
    }
  }

  test("e45 rekey counts equal a direct props-bucket recomputation") {
    import spark.implicits._
    val evs = Tables.events(spark, sf)
      .select($"user_id", $"props").collect()
      .map { r =>
        val k = """"k":\s*(\d+)""".r.findFirstMatchIn(
          r.getAs[String]("props")).get.group(1).toLong
        (k % 10, r.getAs[Long]("user_id"))
      }
    val want = evs.groupBy(_._1).view.mapValues(xs =>
      (xs.length.toLong, xs.map(_._2).distinct.length.toLong)).toMap
    val got = graft.operators.Events.rekeyCounts(spark, sf).collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val (n, u) = want(r.getAs[Long]("k_mod"))
      assert(r.getAs[Long]("n_events") == n &&
        r.getAs[Long]("n_users") == u)
    }
  }

  test("d44 bigram coverage equals a direct head-set recomputation") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ", -1).toSeq)
      .filter(_._2.length >= 2)
    val bigrams = docs.map { case (id, toks) =>
      id -> toks.sliding(2).map(p => p(0) + " " + p(1)).toSeq }
    val head = bigrams.flatMap(_._2).groupBy(identity).toSeq
      .map { case (b, xs) => (b, xs.length) }
      .sortBy { case (b, n) => (-n, b) }.take(200).map(_._1).toSet
    val want = bigrams.map { case (id, bs) =>
      val cov = bs.count(head)
      val den = bs.length.toLong
      (id, den, cov.toLong,
        Math.floorDiv(cov * 20000L + den, den * 2L) / 10000.0)
    }.sortBy(_._1)
    val got = graft.operators.TextOps.bigramCoverage(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("covered"), r.getAs[Double]("coverage")))
    assert(got.toSeq == want.toSeq)
  }

  test("d45 chunking equals a direct sliding-window recomputation") {
    import spark.implicits._
    def md5(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val want = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .flatMap { r =>
        val id = r.getAs[Long]("doc_id")
        val toks = r.getAs[String]("text").split(" ", -1)
        (0 to (toks.length - 1) / 16).map { i =>
          val chunk = toks.slice(i * 16, math.min(i * 16 + 32, toks.length))
          (id, i.toLong, i.toLong * 16, chunk.length.toLong,
            md5(chunk.mkString(" ")))
        }
      }.sortBy(t => (t._1, t._2))
    val got = graft.operators.TextOps.chunkOverlap(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("start_tok"), r.getAs[Long]("n_tok"),
        r.getAs[String]("chunk_hash")))
    assert(got.toSeq == want.toSeq)
  }

  test("e46 retention equals a direct per-day cohort recomputation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{date_trunc, to_date}
    val pairs = Tables.events(spark, sf)
      .select($"user_id", to_date(date_trunc("day", $"ts")).as("d"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Date]("d")))
      .distinct
    val first = pairs.groupBy(_._1).view
      .mapValues(_.map(_._2).minBy(_.getTime)).toMap
    val cohortN = first.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val dayMs = 86400000L
    val want = pairs.groupBy { case (u, d) =>
        (first(u), (d.getTime - first(u).getTime) / dayMs) }
      .map { case ((cd, off), xs) =>
        (cd, off, xs.map(_._1).distinct.length.toLong, cohortN(cd)) }
      .toSeq.sortBy(t => (t._1.getTime, t._2))
    val rows = graft.operators.Events.cohortRetention(spark, sf).collect()
    val got = rows
      .map(r => (r.getAs[java.sql.Date]("cohort_day"),
        r.getAs[Long]("day_offset"), r.getAs[Long]("n_active"),
        r.getAs[Long]("n_cohort")))
    assert(got.toSeq == want)
    rows.foreach { r =>
      val (a, n) = (r.getAs[Long]("n_active"), r.getAs[Long]("n_cohort"))
      val exp = Math.floorDiv(a * 20000L + n, n * 2L) / 10000.0
      assert(r.getAs[Double]("retention") == exp)
    }
  }

  test("q26 skew profile equals a direct count-table recomputation") {
    import spark.implicits._
    val counts = Tables.lineitem(spark, sf)
      .groupBy($"l_orderkey").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))
      .collect().map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("cnt")))
    val sorted = counts.map(_._2).sorted
    def pct(p: Double): Double = {
      val rank = (sorted.length - 1) * p
      val lo = rank.toInt; val frac = rank - lo
      val v = if (lo + 1 < sorted.length)
        sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
      else sorted(lo).toDouble
      math.rint(v * 100) / 100
    }
    val r = graft.operators.Relational.skewProfile(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_keys") == counts.length)
    assert(r.getAs[Long]("total_rows") == counts.map(_._2).sum)
    assert(r.getAs[Long]("max_cnt") == sorted.last)
    assert(r.getAs[Double]("p50_cnt") == pct(0.5))
    assert(r.getAs[Double]("p90_cnt") == pct(0.9))
    assert(r.getAs[Double]("p99_cnt") == pct(0.99))
    val hot = counts.filter(_._2 == sorted.last).map(_._1).min
    assert(r.getAs[Long]("hot_key") == hot)
    val (mx, nk, tot) = (sorted.last, counts.length.toLong, sorted.sum)
    assert(r.getAs[Double]("skew_ratio") ==
      Math.floorDiv(mx * nk * 20000L + tot, tot * 2L) / 10000.0)
  }

  test("q27 equi-depth histogram partitions all rows into balanced buckets") {
    import org.apache.spark.sql.functions.{col, round => fround}
    val cents = Tables.lineitem(spark, sf)
      .select(fround(col("l_extendedprice") * 100, 0).cast("long").as("c"))
      .collect().map(_.getLong(0)).sorted
    val n = cents.length.toLong
    val rows = graft.operators.Relational.equidepthHistogram(spark, sf).collect()
    // buckets cover every row exactly once and are contiguous in value
    assert(rows.map(_.getAs[Long]("n")).sum == n)
    assert(rows.map(_.getAs[Long]("bucket")).toSeq == (0L until 16L))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"))
    }
    // recompute each value's bucket directly from the sorted row list
    val byValue = cents.groupBy(identity).view.mapValues(_.length.toLong)
    val cumExcl = scala.collection.mutable.Map.empty[Long, Long]
    var acc = 0L
    byValue.keys.toSeq.sorted.foreach { v =>
      cumExcl(v) = acc; acc += byValue(v)
    }
    val expected = byValue.keys.groupBy(v => cumExcl(v) * 16 / n)
    rows.foreach { r =>
      val vs = expected(r.getAs[Long]("bucket"))
      assert(r.getAs[Double]("lo") == math.rint(vs.min / 100.0 * 100) / 100)
      assert(r.getAs[Double]("hi") == math.rint(vs.max / 100.0 * 100) / 100)
      assert(r.getAs[Long]("n") == vs.map(byValue).sum)
      assert(r.getAs[Long]("n_values") == vs.size)
    }
    // equi-depth property: no bucket under ~half or over ~double the
    // ideal fill on this fixture (ties can only run a bucket long)
    val ideal = n / 16.0
    rows.foreach { r =>
      val bn = r.getAs[Long]("n")
      assert(bn > ideal / 2 && bn < ideal * 2, s"unbalanced bucket: $r")
    }
  }

  test("e47 attribution equals a per-purchase direct recomputation") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"),
        col("value"), col("props"))
      .collect()
    val clicks = ev.filter(_.getAs[String]("event_type") == "click").map { r =>
      val k = """"k"\s*:\s*(-?\d+)""".r.findFirstMatchIn(
        r.getAs[String]("props")).map(_.group(1).toLong)
      (r.getAs[Long]("user_id"), r.getAs[Long]("us"), r.getAs[Long]("event_id"),
        k.map(_ % 4) match {
          case Some(0) => "ads"; case Some(1) => "email"
          case Some(2) => "social"; case Some(3) => "organic"
          case _ => "unknown"
        })
    }
    val weekUs = 7L * 86400 * 1000000
    val attributed = ev.filter(_.getAs[String]("event_type") == "purchase").map { r =>
      val (u, t) = (r.getAs[Long]("user_id"), r.getAs[Long]("us"))
      val pid = r.getAs[Long]("event_id")
      val best = clicks.filter(c =>
          c._1 == u && (c._2 < t || (c._2 == t && c._3 < pid)) &&
            c._2 >= t - weekUs)
        .sortBy(c => (-c._2, -c._3)).headOption
      (best.map(_._4).getOrElse("unattributed"),
        best.map(c => Math.floorDiv(t - c._2, 1000000L)),
        r.getAs[Double]("value"))
    }
    val got = graft.operators.Events.lastTouchAttribution(spark, sf).collect()
    assert(got.map(_.getAs[Long]("n_purchases")).sum == attributed.length)
    got.foreach { r =>
      val ch = r.getAs[String]("channel")
      val mine = attributed.filter(_._1 == ch)
      assert(r.getAs[Long]("n_purchases") == mine.length, s"n mismatch: $ch")
      val rev = BigDecimal(mine.map(x =>
        BigDecimal(x._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("revenue") == rev, s"revenue mismatch: $ch")
      val lags = mine.flatMap(_._2)
      if (ch == "unattributed") assert(r.isNullAt(r.fieldIndex("avg_lag_s")))
      else assert(r.getAs[Double]("avg_lag_s") ==
        Math.floorDiv(lags.sum * 20000L + lags.length, lags.length * 2L) / 10000.0)
    }
  }

  test("d46 containment finds contained pairs brute force misses nothing") {
    val docs = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" "))
      .filter(_._2.length >= 3)
    val shingles = docs.map { case (id, toks) =>
      id -> toks.sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    val df = shingles.values.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ids = shingles.keys.toSeq.sorted
    // the r14 contract: candidates AND the overlap count share one
    // definition — shared shingles with df ≤ cap (ultra-common
    // shingles score nothing, just as they nominate nothing)
    val exp = (for {
      i <- ids; j <- ids if i < j
      si = shingles(i); sj = shingles(j)
      common = (si & sj).count(s => df(s) <= 50)
      if common > 0
      if common * 5 >= math.min(si.size, sj.size) * 4
    } yield (i, j, common)).toSet
    val got = graft.operators.TextOps.containmentDups(spark, sf).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Long]("common").toInt)).toSet
    assert(got == exp)
  }

  test("d47 classifier score matches a per-token direct recomputation") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(t: String): Long = {
      val hex = md.digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 64
    }
    val docs = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ", -1))
    val got = graft.operators.TextOps.classifierScore(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    docs.foreach { case (id, toks) =>
      val ws = toks.map(t => (2654435761L * bucket(t) + 1013904223L) % 2001L - 1000L)
      val (n, sw) = (toks.length.toLong, ws.sum)
      val r = got(id)
      assert(r.getAs[Long]("n_tokens") == n)
      assert(r.getAs[Long]("sum_w") == sw)
      val den = n * 1000L
      assert(r.getAs[Double]("score") ==
        Math.floorDiv(sw * 20000L + den, den * 2L) / 10000.0)
      assert(r.getAs[Boolean]("kept") == (sw > 0))
    }
  }

  test("q28 column stats equal a per-column direct recomputation") {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_returnflag", "l_linestatus")
    val rows = Tables.lineitem(spark, sf)
      .selectExpr(cols.map(c => s"CAST($c AS STRING) AS $c"): _*)
      .collect()
    val got = graft.operators.Relational.columnStats(spark, sf).collect()
      .map(r => r.getAs[String]("col") ->
        (r.getAs[Long]("ndv"), r.getAs[Long]("n_rows"),
          r.getAs[String]("top3"))).toMap
    assert(got.keySet == cols.toSet)
    cols.foreach { c =>
      val vs = rows.map(_.getAs[String](c))
      val freq = vs.groupBy(identity).view.mapValues(_.length.toLong)
      val top3 = freq.toSeq.sortBy { case (v, n) => (-n, v) }.take(3)
        .map { case (v, n) => s"$v:$n" }.mkString(",")
      assert(got(c) == ((freq.size.toLong, vs.length.toLong, top3)), c)
    }
  }

  test("e58 decimal gini equals e56 on the overlap region and runs past the int64 edge") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // overlap region: the fixture — both arithmetic branches identical
    val a = graft.operators.Events.spendConcentration(spark, sf).collect()
    val b = graft.operators.Events.spendConcentrationDecimal(spark, sf)
      .collect()
    assert(a.nonEmpty && a.toSeq == b.toSeq)
    // past the int64 edge: 3 users at 1.5e13/2e13/5e13 cents — the
    // gini bound 3*9*5e13 = 1.35e15 >= 4e14 fires e56 (naming e58)
    // while every UNGUARDED column's r4 stays in int64 range (the
    // EnvelopeGuardSpec evaluation-order note: larger values overflow
    // the share multiply before the guard raises). The decimal branch
    // must return the hand-computed truth; n=3 < 10 buckets, so SQL
    // ntile gives each descending rank its own decile.
    val per = Seq((1L, 15000000000000L), (2L, 20000000000000L),
      (3L, 50000000000000L)).toDF("user_id", "cents")
    val raised = intercept[Throwable] {
      graft.operators.Events.spendConcentrationOf(per).collect()
    }
    val msgs = Iterator.iterate(raised)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("e56_gini: int64 envelope exceeded"))
    assert(msgs.contains("e58_gini_decimal"),
      "the raise text must name the executable branch")
    val got = graft.operators.Events
      .spendConcentrationOf(per, dec128 = true).collect()
      .map(r => (r.getAs[Long]("decile"), r.getAs[Long]("n_users"),
        r.getAs[Double]("revenue"), r.getAs[Double]("share"),
        r.getAs[Double]("cum_share"), r.getAs[Double]("gini")))
    // hand truth: ascending ranks 1=1.5e13, 2=2e13, 3=5e13; T=8.5e13;
    // ic = 1.5e13 + 4e13 + 1.5e14 = 2.05e14; gini = (4.1e14 - 3.4e14)
    // / 2.55e14 = 7e13/2.55e14, r4-floored to 0.2745; shares/cums are
    // the r4 floors 0.5882/0.2353/0.1765 and 0.5882/0.8235/1.0
    assert(got.toSeq == Seq(
      (1L, 1L, 5.0e11, 0.5882, 0.5882, 0.2745),
      (2L, 1L, 2.0e11, 0.2353, 0.8235, 0.2745),
      (3L, 1L, 1.5e11, 0.1765, 1.0, 0.2745)))
  }

  test("e57 decimal CUSUM equals e41 on the overlap region and runs past the int64 edge") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // overlap region: the fixture — both arithmetic branches must be
    // value-identical (exact integer arithmetic either way)
    val a = graft.operators.Events.cusumChangepoint(spark, sf).collect()
    val b = graft.operators.Events.cusumChangepointDecimal(spark, sf).collect()
    assert(a.nonEmpty && a.toSeq == b.toSeq)
    // past the int64 edge: one key, 600 events at value ~1e7 (cents
    // 1e9): bound 2*600^2*1e9 = 7.2e14 >= 4e14 — e41 RAISES (naming the
    // branch that runs), e57 returns the exact BigInt truth
    val hot = spark.range(600).select(lit(1L).as("user_id"),
      timestamp_micros($"id" * 1000000L).as("ts"), $"id".as("event_id"),
      (lit(1.0e7) + when($"id" >= 300, 37.0).otherwise(0.0) +
        ($"id" % 13).cast("double")).as("value"))
    val raised = intercept[Throwable] {
      graft.operators.Events.cusumChangepointOf(hot).collect()
    }
    val msgs = Iterator.iterate(raised)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("e41: int64 envelope exceeded"))
    assert(msgs.contains("e57_cusum_decimal"),
      "the raise text must name the executable branch")
    // independent truth: plain-Scala BigInt CUSUM (different arithmetic
    // path: BigInt prefix sums + explicit floor division, not Spark
    // Decimal), on the collected history. The r4 readout must convert
    // the EXACT BigInt quotient to double — BigDecimal(q).toDouble is
    // nearest-double like Spark's Decimal.toDouble; a plain
    // BigInt.toDouble detour would agree here but the mirror keeps the
    // conversion paths literally parallel.
    def bigIntTruth(df: org.apache.spark.sql.DataFrame): (Double, Long) = {
      val hist = df.collect().map(r => (r.getLong(2),
        BigInt(math.round(r.getDouble(3) * 100))))
      val n = BigInt(hist.length)
      val sx = hist.map(_._2).sum
      var p = BigInt(0); var minP = BigInt(0)
      var bestC = BigInt(-1); var bestId = -1L
      hist.sortBy(_._1).foreach { case (id, c) =>
        p += n * c - sx
        if (p < minP) minP = p
        val cu = p - (if (minP < 0) minP else BigInt(0))
        if (cu > bestC) { bestC = cu; bestId = id }
      }
      def floorDiv(x: BigInt, y: BigInt): BigInt = (x - x.mod(y)) / y
      val den = n * 100
      (BigDecimal(floorDiv(bestC * 20000 + den, den * 2)).toDouble
        / 10000.0, bestId)
    }
    val got = graft.operators.Events
      .cusumChangepointOf(hot, dec128 = true).collect()
    val (want, bestId) = bigIntTruth(hot)
    assert(got.length == 1)
    val row = got.head
    assert(row.getAs[Long]("n_events") == 600L)
    assert(row.getAs[Double]("cusum_max") == want)
    assert(row.getAs[Long]("cp_event_id") == bestId)
    // past the LONG-QUOTIENT edge (the r13 ADVICE finding): with a
    // mean shift Δ ≈ 2e13 dollars the cusum C ≈ n²·Δcents/4 ≈ 1.8e20
    // keeps the decimal guard passing (bound 2·600²·1e17 ≈ 7.2e22 <
    // 5e33) but the 10⁴-scaled quotient C/(n·100)·10⁴ = C/6 ≈ 3e19
    // exceeds 2⁶³ — the builtin-div r4 narrowed it through
    // Decimal.toLong and returned silently wrapped garbage across this
    // whole magnitude range; r4Dec keeps the quotient in DECIMAL(38,0)
    // and this equality is the regression pin. All value terms are
    // integer doubles < 2⁵³, so cents are exact in both engines.
    val hotter = spark.range(600).select(lit(1L).as("user_id"),
      timestamp_micros($"id" * 1000000L).as("ts"), $"id".as("event_id"),
      (lit(1.0e15) + when($"id" >= 300, 2.0e13).otherwise(0.0) +
        ($"id" % 13).cast("double") * 1e8).as("value"))
    val got2 = graft.operators.Events
      .cusumChangepointOf(hotter, dec128 = true).collect()
    val (want2, bestId2) = bigIntTruth(hotter)
    assert(want2 > 9.2e14,
      "fixture drifted below the long-quotient wrap edge — the pin " +
        "would no longer cover the r4Dec regression")
    assert(got2.length == 1)
    assert(got2.head.getAs[Double]("cusum_max") == want2)
    assert(got2.head.getAs[Long]("cp_event_id") == bestId2)
  }

  test("TopValAggregator ties break in UTF-8 byte order and are null-safe") {
    import graft.functions.{TopValAggregator, ValCount}
    val agg = new TopValAggregator(3)
    // U+E000 (UTF-8: EE 80 80) sorts BELOW U+10000 (UTF-8: F0 90 80 80)
    // in byte order, but Scala String '<' (UTF-16 code units: E000 vs
    // surrogate D800) says the opposite — the divergence ADVICE r12
    // flagged; the aggregator must match the UTF-8 binary collation of
    // the rank window it replaced and of the DuckDB oracle
    val priv = ""
    val supp = new String(Character.toChars(0x10000))
    assert(supp < priv, "UTF-16 premise drifted — pick new code points")
    val in = Seq(ValCount(5L, supp), ValCount(5L, priv), ValCount(5L, "a"))
    val out = in.foldLeft(agg.zero)(agg.reduce)
    assert(out.map(_.v) == Seq("a", priv, supp))
    // merge path agrees with the reduce path
    val (l, r) = in.splitAt(1)
    assert(agg.merge(l.foldLeft(agg.zero)(agg.reduce),
      r.foldLeft(agg.zero)(agg.reduce)) == out)
    // null sorts first among equal counts (Spark asc = NULLS FIRST) and
    // neither comparison direction NPEs
    val wNull = agg.reduce(out, ValCount(5L, null))
    assert(wNull.map(_.v) == Seq(null, "a", priv))
    assert(agg.merge(Seq(ValCount(5L, null)), out).map(_.v) ==
      Seq(null, "a", priv))
  }

  test("e49 A/B readout equals a per-user direct recomputation") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Double]("value")))
    val byUser = ev.groupBy(_._1).view
      .mapValues(_.exists(_._2 == "purchase"))
    val (aU, bU) = byUser.partition(_._1 % 2 == 0)
    val (nA, cA) = (aU.size.toLong, aU.count(_._2).toLong)
    val (nB, cB) = (bU.size.toLong, bU.count(_._2).toLong)
    def revOf(p: Long => Boolean): Double = BigDecimal(
      ev.filter(e => e._2 == "purchase" && p(e._1))
        .map(e => BigDecimal(e._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = graft.operators.Events.abTest(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_a") == nA && r.getAs[Long]("c_a") == cA)
    assert(r.getAs[Long]("n_b") == nB && r.getAs[Long]("c_b") == cB)
    assert(r.getAs[Double]("rate_a") ==
      Math.floorDiv(cA * 20000L + nA, nA * 2L) / 10000.0)
    assert(r.getAs[Double]("rev_a") == revOf(_ % 2 == 0))
    assert(r.getAs[Double]("rev_b") == revOf(_ % 2 != 0))
    val d = (cA * nB - cB * nA).toDouble
    val den = nA.toDouble * nB * (cA + cB) * (nA + nB - cA - cB)
    if (den > 0)
      assert(r.getAs[Double]("z2") == BigDecimal(d * d * (nA + nB) / den)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    else assert(r.isNullAt(r.fieldIndex("z2")))
  }

  test("e48 session paths equal a direct sessionize-and-count recomputation") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("us"),
        r.getAs[Long]("event_id"), r.getAs[String]("event_type")))
    val gapUs = 7200L * 1000000L
    val sessions = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      val segs = scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[String]]
      var prev = Long.MinValue
      sorted.foreach { r =>
        if (prev == Long.MinValue || r._2 - prev > gapUs)
          segs += scala.collection.mutable.ArrayBuffer.empty[String]
        segs.last += r._4
        prev = r._2
      }
      segs.map(s => (u, s.take(20).mkString(">"), s.length.toLong))
    }
    val exp = sessions.groupBy(_._2).map { case (path, ss) =>
      val n = ss.length.toLong
      val lenSum = ss.map(_._3).sum
      (path, n, ss.map(_._1).distinct.length.toLong,
        Math.floorDiv(lenSum * 20000L + n, n * 2L) / 10000.0)
    }.toSeq.sortBy(p => (-p._2, p._1)).take(20)
    val got = graft.operators.Events.sessionPaths(spark, sf).collect()
      .map(r => (r.getAs[String]("path"), r.getAs[Long]("n_sessions"),
        r.getAs[Long]("n_users"), r.getAs[Double]("avg_len"))).toSeq
    assert(got == exp)
  }

  test("s36 streaming funnel equals the e44 batch result row-for-row") {
    val batch = graft.operators.Events.funnelStages(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = graft.streaming.StreamOps
      .queries("s36_stream_funnel")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream == batch)
  }

  test("s39 streaming CDC equals the d49 batch diff minus removed") {
    val batch = graft.operators.TextOps.snapshotDiff(spark, sf).collect()
      .filter(_.getAs[String]("status") != "removed")
      .map(_.toSeq).toSet
    val stream = graft.streaming.StreamOps
      .queries("s39_stream_cdc")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream == batch)
  }

  test("s37 streaming attribution equals the e47 batch result row-for-row") {
    val batch = graft.operators.Events.lastTouchAttribution(spark, sf)
      .collect().map(_.toSeq).toSet
    val stream = graft.streaming.StreamOps
      .queries("s37_stream_attribution")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream == batch)
  }
}

/** The connected-components loop must stay correct on the
  * no-broadcast path (what a general graph above `broadcastNodeLimit`
  * takes at scale: AQE-chosen shuffled joins instead of hinted
  * broadcasts). */
class GraphScaleSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSession.spark

  test("components converge without broadcast hints on a 30k-node graph") {
    import org.apache.spark.sql.functions._
    // 10k path components {3i, 3i+1, 3i+2}: exercises both the
    // neighbor-min step and pointer jumping (depth-2 chains)
    val pairs = spark.range(0, 10000).select(
        (col("id") * 3).as("d1"), (col("id") * 3 + 1).as("d2"))
      .union(spark.range(0, 10000).select(
        (col("id") * 3 + 1).as("d1"), (col("id") * 3 + 2).as("d2")))
    val cc = graft.operators.Graph
      .connectedComponents(pairs, broadcastNodeLimit = 0L)
    assert(cc.count() == 30000L)
    // every node must label to its component's minimum, 3*(id div 3)
    val wrong = cc.filter(
      col("cluster_id") =!= (col("id") - (col("id") % 3))).count()
    assert(wrong == 0L)
  }
}

/** Fault-tolerance specs for the s40/s41 recovery queries: the declared
  * queries already gate the deterministic restart under the DuckDB
  * oracle; these cover the HARSHER variants — a query killed mid-run by
  * stop() (not a graceful AvailableNow drain) and the evidence that
  * s41's duplicate-batch replay really happened. */
class RestartRecoverySpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions._
  import graft.streaming.StreamOps
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private def batchTruth = {
    import spark.implicits._
    import graft.functions.Det.dsum
    Tables.events(spark, sf)
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .select($"w.start".as("w_start"), $"event_type", $"n", $"sum_value")
  }

  test("s40 declared query equals the batch tumbling truth") {
    val out = StreamOps.streamRestartRecovery(spark, sf)
    assert(out.exceptAll(batchTruth).count() == 0)
    assert(batchTruth.exceptAll(out).count() == 0)
  }

  test("s40 hard kill: stop() mid-run, restart recovers from the checkpoint") {
    import spark.implicits._
    // all four changelog files exist UP FRONT (unlike the declared
    // query's two-phase layout): the only thing cutting run A short is
    // the kill itself
    val in = StreamOps.newTempDir("graft_s40kill_in")
    val out = StreamOps.newTempDir("graft_s40kill_out")
    val ck = StreamOps.newTempDir("graft_s40kill_ck")
    val ev = Tables.events(spark, sf).select($"ts", $"event_type", $"value")
    val cut1 = lit(java.sql.Timestamp.valueOf("2024-01-11 07:00:00.0"))
    val cut2 = lit(java.sql.Timestamp.valueOf("2024-01-21 13:00:00.0"))
    StreamOps.writeChangelogFile(ev.filter($"ts" < cut1), in, 0)
    StreamOps.writeChangelogFile(
      ev.filter($"ts" >= cut1 && $"ts" < cut2), in, 1)
    StreamOps.writeChangelogFile(ev.filter($"ts" >= cut2), in, 2)
    StreamOps.writeChangelogFile(
      ev.select($"event_type").distinct()
        .withColumn("ts",
          lit(java.sql.Timestamp.valueOf("2100-01-01 00:00:00.0")))
        .withColumn("value", lit(0.0))
        .select($"ts", $"event_type", $"value"), in, 3)
    val killedAt = StreamOps.withConf(spark, StreamOps.RocksDb: _*) {
      // run A: slow trigger so batch 1 won't start before the kill
      // lands — batch 0 commits, then stop() interrupts the idle query
      val qa = StreamOps.restartAggStream(spark, in).writeStream
        .format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ck.toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("30 seconds"))
        .start()
      var waited = 0
      while (Option(qa.lastProgress).isEmpty && waited < 60000) {
        Thread.sleep(50); waited += 50
      }
      val at = Option(qa.lastProgress).map(_.batchId).getOrElse(-1L)
      qa.stop()
      qa.awaitTermination()
      at
    }
    assert(killedAt >= 0L && killedAt < 3L,
      s"kill landed after the data was fully consumed (batchId $killedAt)")
    // run B: restart from the same checkpoint, drain to completion
    val lastB = StreamOps.runRestartLeg(spark, in, out, ck)
    assert(lastB > killedAt,
      s"restart did not resume past the kill point ($killedAt -> $lastB)")
    val got = spark.read.parquet(out.toString)
    assert(got.exceptAll(batchTruth).count() == 0)
    assert(batchTruth.exceptAll(got).count() == 0)
  }

  test("s42 reads the state store with NO streaming query active (IQ)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = StreamOps.streamQueryableState(spark, sf)
    // the changelog query has terminated; the store read that follows
    // is the Interactive-Queries contract — serving-layer access to
    // keyed state without a running stream
    assert(spark.streams.active.isEmpty,
      "a streaming query was still active at store-read time")
    val got = df.collect()
    assert(got.nonEmpty)
    // equals the batch latest-by-key reduction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    val truth = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        $"event_type", round($"value", 2).as("value"))
    assert(df.exceptAll(truth).count() == 0)
    assert(truth.exceptAll(df).count() == 0)
  }

  test("s43 bootstrap is load-bearing: increments alone under-count every key") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cents = expr("CAST(round(value * 100, 0) AS BIGINT)")
    val got = StreamOps.streamStateBootstrap(spark, sf)
    // equals the full-replay truth (also the DuckDB oracle's contract)
    val truth = Tables.events(spark, sf).groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum(cents).as("cents"))
    assert(got.exceptAll(truth).count() == 0)
    assert(truth.exceptAll(got).count() == 0)
    // and the snapshot genuinely carried weight: for EVERY key the
    // increments alone (a cold start that dropped the restore) fall
    // short — both halves of the cut are non-trivial per user
    val cut = lit(java.sql.Timestamp.valueOf("2024-01-16 09:30:00.0"))
    val coldOnly = Tables.events(spark, sf).filter($"ts" >= cut)
      .groupBy($"user_id").agg(count(lit(1)).as("n_cold"))
    val short = got.join(coldOnly, "user_id")
      .filter($"n_cold" < $"n_events").count()
    assert(short == got.count(),
      "some key's totals were reproducible without the restored snapshot")
  }

  test("restart under a DRIFTED shuffle-partitions conf stays correct") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // ops reality: the job that restarts a stream rarely carries the
    // exact session conf that created the checkpoint. Spark pins the
    // state partition count in the checkpoint (sql.shuffle.partitions
    // is recorded in the offset log), so a drifted conf must neither
    // fail the restart nor corrupt the answer.
    val in = StreamOps.newTempDir("graft_s40drift_in")
    val out = StreamOps.newTempDir("graft_s40drift_out")
    val ck = StreamOps.newTempDir("graft_s40drift_ck")
    val ev = Tables.events(spark, sf).select($"ts", $"event_type", $"value")
    val cut = lit(java.sql.Timestamp.valueOf("2024-01-16 09:30:00.0"))
    StreamOps.writeChangelogFile(ev.filter($"ts" < cut), in, 0)
    // leg 1 at 8 state partitions (runRestartLeg's sizing)
    StreamOps.runRestartLeg(spark, in, out, ck)
    StreamOps.writeChangelogFile(ev.filter($"ts" >= cut), in, 1)
    StreamOps.writeChangelogFile(
      ev.select($"event_type").distinct()
        .withColumn("ts",
          lit(java.sql.Timestamp.valueOf("2100-01-01 00:00:00.0")))
        .withColumn("value", lit(0.0))
        .select($"ts", $"event_type", $"value"), in, 2)
    // leg 2 under a conf that disagrees with the checkpoint
    StreamOps.withConf(spark,
        (StreamOps.ShufflePartitions -> "3") +: StreamOps.RocksDb: _*) {
      val q = StreamOps.restartAggStream(spark, in).writeStream
        .format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ck.toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the checkpoint's recorded partition count wins over the conf
      val parts = Option(q.lastProgress).map(
        _.stateOperators.map(_.numShufflePartitions).max)
      assert(parts.contains(8L),
        s"state partitions followed the drifted conf: $parts")
    }
    val got = spark.read.parquet(out.toString)
    import graft.functions.Det.dsum
    val truth = Tables.events(spark, sf)
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .select($"w.start".as("w_start"), $"event_type", $"n", $"sum_value")
    assert(got.exceptAll(truth).count() == 0)
    assert(truth.exceptAll(got).count() == 0)
  }

  test("s44 v1 state survives the v2 schema upgrade, new metric starts at upgrade") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = StreamOps.streamStateEvolution(spark, sf)
    val cents = expr("CAST(round(value * 100, 0) AS BIGINT)")
    val cut = lit(java.sql.Timestamp.valueOf("2024-01-16 09:30:00.0"))
    // whole-table truth (the oracle's contract)
    val truth = Tables.events(spark, sf).groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum(cents).as("cents"),
        sum(when($"ts" >= cut, cents)).as("cents_new"))
    assert(got.exceptAll(truth).count() == 0)
    assert(truth.exceptAll(got).count() == 0)
    // the evolution identity, per key: the widened field counts ONLY
    // post-upgrade revenue, so cents − cents_new == the v1-era sum —
    // a state wipe (cents == cents_new) or a default polluted with
    // pre-upgrade bytes both break this exactly
    val v1Era = Tables.events(spark, sf).filter($"ts" < cut)
      .groupBy($"user_id").agg(sum(cents).as("v1_cents"))
    val broken = got.join(v1Era, "user_id")
      .filter($"cents" - coalesce($"cents_new", lit(0L)) =!= $"v1_cents")
      .count()
    assert(broken == 0, s"$broken keys leaked pre-upgrade state into cents_new")
  }

  test("s41 forces one identical duplicate batch delivery and absorbs it") {
    import spark.implicits._
    val (df, ev) = StreamOps.runForeachExactlyOnce(spark, sf)
    // the crash injection must produce EXACTLY one extra delivery, and
    // the offset log must pin the replayed batch to identical data
    assert(ev.nBatches == 3, s"expected 3 micro-batches, got ${ev.nBatches}")
    assert(ev.nDeliveries == ev.nBatches + 1,
      s"expected one duplicate delivery, got ${ev.nDeliveries}")
    assert(ev.dupIdentical, "replayed batch carried different rows")
    // the idempotent store rebuilt the whole-table truth
    val truth = Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), graft.functions.Det.dsum($"value").as("sum_value"))
    assert(df.exceptAll(truth).count() == 0)
    assert(truth.exceptAll(df).count() == 0)
  }
}

/** State-size assertions for the transformWithState queries (VERDICT r8
  * item 7): each query's terminal RocksDB row count must be bounded by
  * its DECLARED state contract — occupied LSH buckets (s24), non-empty
  * time buckets + one pointer per user (s25), touched terms (s29), one
  * record per clicking user (s37) — never by event volume. The numbers
  * come from the terminal StreamingQueryProgress captured by
  * runToMemory, so the assertion rides the same execution the oracle
  * gate checks. */
class StateBoundSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions._
  import graft.streaming.StreamOps
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private def stateRows(name: String): Long = {
    val p = StreamOps.lastProgressByName.getOrElse(name,
      fail(s"no terminal progress recorded for $name"))
    p.stateOperators.map(_.numRowsTotal).sum
  }

  test("s24 state rows == occupied corpus-side LSH buckets") {
    import spark.implicits._
    StreamOps.streamNearDup(spark, sf).collect()
    val got = stateRows("graft_s24")
    val corpusBuckets = graft.operators.TextOps.lshBands(spark, sf)
      .filter($"doc_id" % 2 === 0)
      .select(concat_ws(":", $"band", $"bh")).distinct().count()
    val corpusDocs = graft.operators.TextOps.lshBands(spark, sf)
      .filter($"doc_id" % 2 === 0).select($"doc_id").distinct().count()
    assert(got == corpusBuckets,
      s"s24 state $got != occupied corpus buckets $corpusBuckets")
    // the scaladoc contract: ≤ 4 band rows per corpus doc, and the
    // probing (incoming) side must leave NO state behind
    assert(got <= 4 * corpusDocs)
  }

  test("s47 state rows == occupied corpus-side sign-LSH band buckets") {
    import spark.implicits._
    StreamOps.streamEmbedNearDup(spark, sf).collect()
    val got = stateRows("graft_s47")
    val corpus = graft.operators.VectorOps.bandCodes(spark, sf)
      .filter($"vec_id" % 2 === 0)
    val corpusBuckets = corpus.select($"band", $"code").distinct().count()
    val corpusVecs = corpus.select($"vec_id").distinct().count()
    assert(got == corpusBuckets,
      s"s47 state $got != occupied corpus buckets $corpusBuckets")
    // the scaladoc contract: ≤ 8 band rows per corpus vector, and the
    // probing (incoming) side must leave NO state behind
    assert(got <= 8 * corpusVecs)
  }

  test("s48 serving-index state rows == occupied cells (config-bounded)") {
    import spark.implicits._
    StreamOps.streamServeTopK(spark, sf).collect()
    // the index state is ONE ValueState row per occupied cell (each a
    // ≤ DivCap buffer), never a corpus log: recompute the occupied-cell
    // count batch-side with the same rounded model + en-filter
    val cents = graft.operators.VectorOps.labelCentroidsRounded(spark, sf)
    val e = graft.operators.VectorOps.embDouble(spark, sf)
    val allowed = Tables.documents(spark, sf)
      .filter($"lang" === "en").select($"doc_id".as("vec_id"))
    val scored = cents.map { case (cl, c) =>
      struct(call_function("graft_cosine", $"v", typedlit(c)).as("c"),
        lit(-cl).as("nl"))
    }
    val occupied = e.filter($"vec_id" =!= 0).join(allowed, "vec_id")
      .withColumn("m", array_max(array(scored: _*)))
      .select((-$"m.nl").as("cell")).distinct().count()
    val ck = StreamOps.cachedDir("s48", sf)
      .getOrElse(fail("no s48 checkpoint recorded"))
    val got = StreamOps.readState(spark, ck, "topn").count()
    assert(got == occupied,
      s"s48 state $got rows != occupied cells $occupied")
    assert(got <= cents.length.toLong)
  }

  test("s49 CMS state rows == occupied cells, hard-capped at d*w") {
    import spark.implicits._
    StreamOps.streamCountMin(spark, sf).collect()
    val ck = StreamOps.cachedDir("s49", sf)
      .getOrElse(fail("no s49 checkpoint recorded"))
    val got = StreamOps.readState(spark, ck, "bins").count()
    // occupied (r, b) cells recomputed batch-side with the same exprs
    val occupied = Tables.events(spark, sf).select($"user_id")
      .select(posexplode(array((0 until graft.operators.Extras.CmsD)
        .map(graft.operators.Extras.cmsBucket): _*)).as(Seq("r", "b")))
      .distinct().count()
    assert(got == occupied, s"s49 state $got != occupied cells $occupied")
    // the sketch contract: state is CONFIG-bounded (d*w), never
    // key- or event-bounded
    assert(got <= graft.operators.Extras.CmsD * graft.operators.Extras.CmsW)
  }

  test("s50 index state stays config-bounded THROUGH deletes; erased ids never served") {
    import spark.implicits._
    val served = StreamOps.streamServeTombstones(spark, sf).collect()
    val full = graft.operators.VectorOps.retrievalPipeline(spark, sf)
      .collect()
    val tombIds = full.take(graft.operators.VectorOps.TombK)
      .map(_.getLong(0)).toSet
    // the erasure is load-bearing: the tombstoned ids WERE the top
    // served answers, so the reduced serve must differ and must never
    // contain them (resurrection via the compaction replay is the
    // failure this pins — batch 2 re-delivers the erased ids)
    val servedIds = served.map(_.getLong(0)).toSet
    assert(tombIds.nonEmpty && (servedIds & tombIds).isEmpty,
      s"erased ids served: ${servedIds & tombIds}")
    assert(servedIds != full.map(_.getLong(0)).toSet,
      "deletion left the served top-5 unchanged — not load-bearing")
    val ck = StreamOps.cachedDir("s50", sf)
      .getOrElse(fail("no s50 checkpoint recorded"))
    def stateVar(name: String) = StreamOps.readState(spark, ck, name)
    // buffers: one ValueState row per occupied cell, each ≤ DivCap
    // entries, even after delete + compaction replay
    val bufs = stateVar("topn")
      .select($"key.value".as("cell"),
        org.apache.spark.sql.functions.size($"value.ids").as("n"))
      .collect()
    val cents = graft.operators.VectorOps
      .labelCentroidsRounded(spark, sf).length.toLong
    assert(bufs.length.toLong <= cents,
      s"s50 ${bufs.length} buffer rows > $cents cells")
    assert(bufs.forall(_.getAs[Int]("n") <=
      graft.operators.VectorOps.DivCap))
    // the tombstone map: exactly the TombK erased ids, nothing else
    val tombState = stateVar("tomb")
      .select($"user_map_key.value".as("id")).as[Long].collect().toSet
    assert(tombState == tombIds,
      s"tombstone state $tombState != erased set $tombIds")
  }

  test("s25 state rows == non-empty quote buckets + one pointer per user") {
    import spark.implicits._
    StreamOps.streamAsOfJoin(spark, sf).collect()
    val got = stateRows("graft_s25")
    val views = Tables.events(spark, sf)
      .filter($"event_type" === "view")
      .select($"user_id", (unix_micros($"ts") /
        lit(graft.streaming.AsOfJoinProcessor.BucketUs))
        .cast("long").as("bucket"))
    val nonEmptyBuckets = views.distinct().count()
    val usersWithQuotes = views.select($"user_id").distinct().count()
    assert(got == nonEmptyBuckets + usersWithQuotes,
      s"s25 state $got != buckets $nonEmptyBuckets + users $usersWithQuotes")
    // the 100 TB claim: state scales with OCCUPIED BUCKETS, not with
    // events — probes (purchases) contribute nothing
    val totalEvents = Tables.events(spark, sf)
      .filter($"event_type".isin("view", "purchase")).count()
    assert(got < totalEvents)
  }

  test("s29 state rows == distinct terms (two Longs per touched term)") {
    import spark.implicits._
    StreamOps.streamInvertedIndex(spark, sf).collect()
    val got = stateRows("graft_s29")
    val distinctTerms = graft.operators.TextOps.docsWithToks(spark, sf)
      .select(explode($"toks").as("term")).distinct().count()
    assert(got == distinctTerms,
      s"s29 state $got != distinct terms $distinctTerms")
    // never the posting volume: (term, doc) pairs would be far larger
    val postings = graft.operators.TextOps.docsWithToks(spark, sf)
      .select($"doc_id", explode($"toks").as("term")).distinct().count()
    assert(got < postings)
  }

  test("s45 watermark retires ALL sliding-window state by termination") {
    import spark.implicits._
    // the opposite bound from the tests above: s45's state is live
    // (window, user) pairs — the ×7 slide multiplies it — and the
    // contract is that the watermark RETIRES it (1/7th per day; the
    // flush sentinel closes the rest). A wrong watermark column or a
    // window/watermark mismatch shows up as terminal state that never
    // drains — the classic streaming state leak, invisible to the
    // result hash because closed windows still emit.
    StreamOps.streamSlidingMau(spark, sf).collect()
    val got = stateRows("graft_s45")
    assert(got == 0L,
      s"s45 terminal state holds $got rows — the watermark is not retiring windows")
  }

  test("s37 state rows == users with at least one click") {
    import spark.implicits._
    StreamOps.streamAttribution(spark, sf).collect()
    val got = stateRows("graft_s37")
    val clickingUsers = Tables.events(spark, sf)
      .filter($"event_type" === "click")
      .select($"user_id").distinct().count()
    assert(got == clickingUsers,
      s"s37 state $got != clicking users $clickingUsers")
    // constant per key however dense the click stream is
    val clicks = Tables.events(spark, sf)
      .filter($"event_type" === "click").count()
    assert(got < clicks)
  }

  test("s51 state rows == occupied shards, hard-capped at ShardN") {
    import spark.implicits._
    val served = StreamOps.streamShardManifest(spark, sf).collect()
    val ck = StreamOps.cachedDir("s51", sf)
      .getOrElse(fail("no s51 checkpoint recorded"))
    val got = StreamOps.readState(spark, ck, "cell").count()
    // one ValueState cell per OCCUPIED shard — the hardest-capped
    // bound in the ingest family: config-sized regardless of corpus
    // volume (documents only ever touch existing cells)
    assert(got == served.length.toLong,
      s"s51 state $got rows != ${served.length} served manifest rows")
    assert(got <= graft.operators.TextOps.ShardN)
    // cross-face: the streamed cells must serve the batch manifest
    val batch = graft.operators.TextOps.shardManifest(spark, sf).collect()
    assert(served.toSeq == batch.toSeq,
      "s51 streamed manifest != d57 batch manifest")
  }
}
