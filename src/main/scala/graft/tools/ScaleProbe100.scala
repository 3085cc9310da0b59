package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only 100× scaling probe (VERDICT r8 item 4) — the slope check at
  * the scale where the 100 TB claim lives, on the linear-subset queries
  * the 10× probe already covers. Replicates the sf0.1 fixtures 100× in
  * tmpfs with DISJOINT key/content spaces per replica:
  *
  *   documents  — doc_id offset + every TOKEN salted with the replica id
  *                (so replicas share no shingles: dup DENSITY stays the
  *                base corpus's, as in a real 100 TB crawl, instead of
  *                dup MULTIPLICITY ×100, which would contract-quadratic
  *                the pair-emitting ops' OUTPUT and measure the pair
  *                list, not the operator)
  *   embeddings — vec_id offset + a deterministic per-replica SIGN
  *                FLIP pattern over the dimensions (an isometry: norms
  *                and all within-replica distances are EXACTLY
  *                preserved, so each replica keeps the base corpus's
  *                dup structure, while cross-replica cosines collapse
  *                toward 0 — dup DENSITY stays constant like the
  *                documents' token salting; before r13 the replicas
  *                were identical, which made every pair-emitting
  *                v-operator measure its c²-inflated pair list instead
  *                of its plan — v10's 100× run ground a 10⁴× pair
  *                graph)
  *   events     — event_id AND user_id offsets (per-key density
  *                constant: 100× the keys, the 1000-executor shape —
  *                per-user windows must not grow with corpus size)
  *   lineitem   — l_orderkey offset
  *   others     — passthrough dims
  *
  * Each query runs TWICE per directory and reports the faster run, so
  * one-time derived-scratch builds (changelog dirs, session caches —
  * fixture prep, not query work; see Bench's warmup rationale) are not
  * charged to the measured slope. Never writes under /root/testdata.
  *
  * Usage: runMain graft.tools.ScaleProbe100 q1 [q2 ...]
  */
object ScaleProbe100 {
  val Reps = 100

  /** Replica-i view of the documents fixture: doc_id offset plus the
    * per-token replica salt (replicas share NO shingles, so dup
    * DENSITY stays the base corpus's instead of dup MULTIPLICITY
    * ×Reps). Factored out so [[graft.ProbeFixtureProps]] pins the
    * exact expression the fixture build uses — the pre-r13
    * identical-replica flaw silently invalidated every pair-emitting
    * v-probe for four rounds and must not be reintroducible. */
  def documentReplica(src: DataFrame, i: Int, off: Long): DataFrame =
    src.withColumn("doc_id", col("doc_id") + lit(i * off))
      .withColumn("text", array_join(
        transform(split(col("text"), " "),
          t => concat(t, lit(s"x$i"))), " "))

  /** Replica-i view of the embeddings fixture: vec_id offset plus a
    * deterministic per-replica SIGN FLIP over the dimensions — an
    * isometry (negation is exact in IEEE float, so norms and all
    * within-replica dot products are BIT-exact preserved) while
    * cross-replica cosines collapse toward 0. Pinned by
    * [[graft.ProbeFixtureProps]]. */
  def embeddingReplica(src: DataFrame, i: Int, off: Long): DataFrame =
    src.withColumn("vec_id", col("vec_id") + lit(i * off))
      .withColumn("embedding", expr(
        s"transform(embedding, (x, j) -> " +
          s"IF(pmod(hash(j, $i), 2) = 0, x, -x))"))

  def main(args: Array[String]): Unit = {
    val base = "/root/testdata/sf0.1"
    val dir = "/dev/shm/graft_sf100x"
    val spark = graft.GraftSession("32", Seq(
      // shuffle/spill blocks on tmpfs, NOT the default /tmp: the 100×
      // runs spill tens of GiB and the root disk is the host's scarce
      // resource (v08's r13 probe death was /tmp "No space left on
      // device"); /dev/shm is RAM-backed and reclaimed on JVM exit
      "spark.local.dir" -> s"$dir/spill"))

    new java.io.File(dir).mkdirs()
    def missing(name: String) =
      !new java.io.File(s"$dir/$name.parquet/_SUCCESS").exists()

    def build(name: String, out: Int)(mk: Int => DataFrame): Unit =
      if (missing(name)) {
        println(s"[probe100] building $name ...")
        (0 until Reps).map(mk).reduce(_ unionAll _)
          .coalesce(out).write.mode("overwrite")
          .parquet(s"$dir/$name.parquet")
      }

    locally {
      val src = spark.read.parquet(s"$base/documents.parquet")
      val off = src.agg(max(col("doc_id"))).head.getLong(0) + 1L
      build("documents", 8)(documentReplica(src, _, off))
    }
    locally {
      val src = spark.read.parquet(s"$base/embeddings.parquet")
      val off = src.agg(max(col("vec_id"))).head.getLong(0) + 1L
      build("embeddings", 8)(embeddingReplica(src, _, off))
    }
    locally {
      val src = spark.read.parquet(s"$base/lineitem.parquet")
      val off = src.agg(max(col("l_orderkey"))).head.getLong(0) + 1L
      build("lineitem", 16) { i =>
        src.withColumn("l_orderkey", col("l_orderkey") + lit(i * off))
      }
    }
    // events must land as ONE FILE named events.parquet (the streaming
    // sources glob exactly that name — see ScaleProbe's note)
    if (!new java.io.File(s"$dir/events.parquet").isFile) {
      println(s"[probe100] building events ...")
      val src = graft.Tables.events(spark, base)
      val eOff = src.agg(max(col("event_id"))).head.getLong(0) + 1L
      val uOff = src.agg(max(col("user_id"))).head.getLong(0) + 1L
      graft.streaming.StreamOps.writeSingleFile(
        (0 until Reps).map(i =>
            src.withColumn("event_id", col("event_id") + lit(i * eOff))
              .withColumn("user_id", col("user_id") + lit(i * uOff)))
          .reduce(_ unionAll _),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
    }
    Seq("region", "nation", "customer", "supplier", "part", "orders")
      .foreach { t =>
        if (missing(t))
          spark.read.parquet(s"$base/$t.parquet").write.mode("overwrite")
            .parquet(s"$dir/$t.parquet")
      }

    // Between-queries scrub (the r13 chunk-death fix): a 15-query chunk
    // runs each query 3× per fixture dir in ONE JVM, and every
    // terminated streaming run leaves (a) its memory-sink rows pinned
    // by the StreamingQueryManager's terminated-queries list and the
    // named temp view — ~1M rows each at 100×, which is what OOM-killed
    // the s03..s28 chunk at exit code 52 (SparkExitCode.OOM) and took
    // s14/s28 down with a stopped SparkContext — and (b) its checkpoint
    // scratch on tmpfs (v08's disk-full). Dropping the references and
    // reclaiming unpinned scratch makes per-chunk footprint per-QUERY,
    // not cumulative. Every dir cachedScratchDir pins survives: the
    // stream scratch caches and FileSources' format copies alike.
    def scrub(): Unit = {
      spark.streams.resetTerminated()
      spark.catalog.listTables().collect()
        .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
      spark.catalog.clearCache()
      graft.streaming.StreamOps.reclaimScratch()
    }

    args.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      // toRdd.count() forces the FULL physical plan (a bare .count()
      // lets Catalyst prune row-wise work — windows, projections — and
      // measure only the surviving aggregate); cold = first touch of
      // the sfDir (includes one-time session caches / derived scratch),
      // warm = min of two steady-state reruns. A query that RAISES (a
      // scale guard firing — e53's exact-sort envelope by design at
      // 100×) is reported as such, not crashed on: the raise IS the
      // measured at-scale behavior.
      def time(sf: String): Either[String, (Double, Double)] = {
        def once(): Double = {
          val t0 = System.nanoTime()
          fn(spark, sf).queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }
        try { val cold = once(); Right((cold, math.min(once(), once()))) }
        catch { case e: Throwable =>
          val root = Iterator.iterate(e)(_.getCause)
            .takeWhile(_ != null).toSeq.last
          Left(s"${root.getClass.getSimpleName}: ${root.getMessage}")
        }
      }
      // machine-readable ledger row (appended; the probe-coverage gate
      // in tools/survey_lint.py reads this — every DECLARED query must
      // have a row): {"q":..,"sf01_warm":..,"x100_cold":..,
      // "x100_warm":..,"ratio":..} or {"q":..,"raised":"..."} when a
      // scale guard fires at 100× (the measured at-scale behavior)
      val ledger = sys.env.getOrElse("GRAFT_PROBE_LEDGER",
        "docs/probe100.jsonl")
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", " ")
      def record(json: String): Unit = {
        val p = java.nio.file.Paths.get(ledger)
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
      (time(base), time(dir)) match {
        case (Right((bc, bw)), Right((xc, xw))) =>
          println(f"[probe100] $n%-24s sf0.1=$bw%7.2fs (cold $bc%7.2f)  " +
            f"100x=$xw%8.2fs (cold $xc%8.2f)  warm-ratio=${xw / bw}%6.1f  " +
            f"cold-ratio=${xc / bc}%6.1f")
          record(f"""{"q":"$n","sf01_warm":$bw%.3f,"x100_cold":$xc%.3f,""" +
            f""""x100_warm":$xw%.3f,"ratio":${xw / bw}%.2f}""")
        case (Right((_, bw)), Left(msg)) =>
          println(f"[probe100] $n  sf0.1=$bw%7.2fs  100x=RAISED[${msg.take(120)}]")
          record(f"""{"q":"$n","sf01_warm":$bw%.3f,""" +
            s""""raised":"${esc(msg.take(200))}"}""")
        case (b, x) =>
          def s(r: Either[String, (Double, Double)]) = r match {
            case Right((_, w)) => f"$w%7.2fs"
            case Left(msg) => s"RAISED[${msg.take(120)}]"
          }
          println(s"[probe100] $n  sf0.1=${s(b)}  100x=${s(x)}")
          record(s"""{"q":"$n","error":"${
            esc(s"sf0.1=${s(b)} 100x=${s(x)}".take(200))}"}""")
      }
      scrub()
    }
    spark.stop()
  }
}
