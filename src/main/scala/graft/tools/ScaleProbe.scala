package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only 10× dup-heavy scaling probe (the SURVEY §7 evidence table):
  * replicates the sf0.1 fixtures 10× in tmpfs — documents/embeddings as
  * 10 EXACT copies per base row (the worst case for dedup operators:
  * every dup group has multiplicity 10), events as 10 disjoint-id
  * copies — then times the named queries against both directories.
  * Never writes under /root/testdata; not part of the harness.
  *
  * Usage: runMain graft.tools.ScaleProbe q1 [q2 ...]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = "/root/testdata/sf0.1"
    val dir = "/dev/shm/graft_sf10x"
    val spark = graft.GraftSession("32")

    new java.io.File(dir).mkdirs()
    def missing(name: String) =
      !new java.io.File(s"$dir/$name.parquet/_SUCCESS").exists()
    // replica id offset = max(id)+1 of the base table, NOT a constant:
    // a bigger sf directory must not silently collide replica ids and
    // skew the dup multiplicity the probe measures
    def rep(name: String, idCol: String): Unit =
      if (missing(name)) {
        val src = spark.read.parquet(s"$base/$name.parquet")
        val off = src.agg(max(col(idCol))).head.getLong(0) + 1L
        (0 until 10).map(i =>
            src.withColumn(idCol, col(idCol) + lit(i * off)))
          .reduce(_ unionAll _)
          .coalesce(4).write.mode("overwrite")
          .parquet(s"$dir/$name.parquet")
      }
    rep("documents", "doc_id")
    rep("embeddings", "vec_id")
    // events.ts is TIMESTAMP(NANOS) in the fixture — go through
    // Tables.events (nanos→µs) and write back plain µs timestamps,
    // which every query reads identically. Must be ONE FILE named
    // events.parquet (not a directory): StreamOps.eventsStream streams
    // the parent dir with pathGlobFilter=events.parquet, which a part
    // file inside a directory would not match (0-row stream).
    if (!new java.io.File(s"$dir/events.parquet").isFile) {
      val src = graft.Tables.events(spark, base)
      val off = src.agg(max(col("event_id"))).head.getLong(0) + 1L
      graft.streaming.StreamOps.writeSingleFile(
        (0 until 10).map(i =>
            src.withColumn("event_id", col("event_id") + lit(i * off)))
          .reduce(_ unionAll _),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
    }
    // relational dims pass through unchanged (the probed ops don't
    // replicate them)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      if (missing(t))
        spark.read.parquet(s"$base/$t.parquet").write.mode("overwrite")
          .parquet(s"$dir/$t.parquet")
    }

    args.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      def time(sf: String): Double = {
        val t0 = System.nanoTime()
        fn(spark, sf).count()
        (System.nanoTime() - t0) / 1e9
      }
      val b = time(base)
      val x = time(dir)
      println(f"[probe] $n%-24s sf0.1=$b%6.2fs  10x=$x%7.2fs  ratio=${x / b}%5.1f")
    }
    spark.stop()
  }
}
