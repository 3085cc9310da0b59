package graft

import org.apache.spark.sql.SparkSession

/** The one declared session every entry point runs [[SparkEntry.queries]]
  * in: Bench, Verify, the dev tools and the tests. `extraConf` is applied
  * last, so it wins over a declared key. Like any `getOrCreate`, a second
  * call in a live JVM returns the existing session with the runtime SQL
  * confs applied to it.
  *
  * `spark.sql.adaptive.coalescePartitions.parallelismFirst` stays at
  * Spark's default (true): `false` coalesced nearly every post-shuffle
  * stage to one task at fixture scale (203 s → 146 s full-bench A/B in
  * OPTIMIZATION_r15.md). */
object GraftSession {
  def apply(cpus: String,
      extraConf: Seq[(String, String)] = Nil): SparkSession = {
    val declared = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the events NTZ→LTZ normalization (Tables.events) is only
      // value-preserving under a UTC session timezone
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // single-file fixture tables would otherwise scan as one task each;
      // split them like a cluster would see many splits
      .config("spark.sql.files.maxPartitionBytes", "8m")
    val spark = extraConf.foldLeft(declared) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
