package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** oracle_sql.json content for `entries`. JSON string escape covers
    * backslash, quote, and ALL control chars (<0x20) — a tab or CR in
    * builder-authored SQL would otherwise make the driver's json.load
    * fail and silently zero the round's correctness. Shared with
    * OracleLintSpec so the standing type-lint gate sees byte-identical
    * JSON to what the driver consumes. */
  def oracleJson(entries: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    entries.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to these query names (dev reruns);
    // the driver always passes exactly (sfDir, outDir) → full run
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Invariance-sweep hook (unset in the gated run, which keeps exactly
    // the GraftSession config; the docs/SWEEPS.md sweeps set it):
    // SPARK_GRAFT_CONF="k=v;k=v" adds session confs, e.g. codegen OFF
    // (factoryMode=NO_CODEGEN), AQE OFF, or the RocksDB state-store
    // provider, to prove the oracle hashes don't depend on them.
    val extraConf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';').toSeq).map(_.trim).filter(_.contains('='))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    val spark = GraftSession(cpus, extraConf)
    new java.io.File(outDir).mkdirs()
    def runOne(sess: SparkSession, name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try fn(sess, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    val entries = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }.toSeq
    // Concurrency-sweep hook (builder-run only, like SPARK_GRAFT_CONF):
    // SPARK_GRAFT_PAR=n submits the queries from n threads at once,
    // each through its OWN spark.newSession() — shared SparkContext +
    // catalog, isolated SQLConf/temp views/UDFs. That is the
    // multi-tenant shape (one cluster, many analysts) AND the isolation
    // production concurrency requires: the streaming harness sizes
    // state-store parallelism and picks the provider per query via
    // session conf (runAvailableNow's shuffle-partitions / provider /
    // no-data-batch set+restore), which is session-scoped by design —
    // tenants sharing ONE session would bleed those into each other's
    // query planning (observed: one query's disabled no-data batch
    // planned a concurrent append query without its watermark-close
    // batch, silently dropping its final windows). The driver never
    // sets the hook → sequential on the one declared session.
    val par = sys.env.get("SPARK_GRAFT_PAR")
      .flatMap(_.trim.toIntOption).getOrElse(1)
    if (par <= 1) entries.foreach { case (n, f) => runOne(spark, n, f) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try entries.map { case (n, f) =>
        pool.submit(new Runnable {
          def run(): Unit = runOne(spark.newSession(), n, f)
        })
      }.foreach(_.get())
      finally pool.shutdown()
    }
    val json = oracleJson(
      SparkEntry.oracleSql.filter { case (k, _) => only.isEmpty || only(k) })
    // a restricted dev rerun must never truncate a previously-dumped FULL
    // oracle file in the same outDir (a later whole-dir DuckDB compare
    // would silently lose queries): write the subset to a .partial file
    val oracleFile =
      if (only.isEmpty) "oracle_sql.json" else "oracle_sql.partial.json"
    Files.writeString(Paths.get(s"$outDir/$oracleFile"), json)
    spark.stop()
  }
}
