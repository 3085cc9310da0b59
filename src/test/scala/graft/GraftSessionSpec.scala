package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** The `src/main/scala` files (relative paths, sorted) whose text
  * contains `needle` — the grep behind the single-seam pins. */
object MainSources {
  def containing(needle: String): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }
}

/** Pins [[GraftSession]]: the declared config every entry point runs in,
  * its `extraConf` precedence, and that it is the only session builder. */
class GraftSessionSpec extends AnyFunSuite {

  test("the test session reads the declared Bench config key for key") {
    val spark = TestSession.spark
    assert(spark.sparkContext.master == "local[4]")
    val expected = Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" -> "8m",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
      "spark.sql.extensions" -> "org.apache.spark.sql.graft.GraftExtensions")
    expected.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("extraConf wins over a declared key") {
    val key = "spark.sql.files.maxPartitionBytes"
    val spark = GraftSession("4", Seq(key -> "16m"))
    try {
      assert(spark eq TestSession.spark, "getOrCreate must reuse the live session")
      assert(spark.conf.get(key) == "16m")
    } finally spark.conf.set(key, "8m")
  }

  test("GraftSession.scala holds the only session builder under src/main") {
    assert(MainSources.containing("SparkSession.builder") ==
      Seq("graft/GraftSession.scala"))
  }

  test("s07 runs as the first state-store user of a fresh SparkContext") {
    // a child JVM: this JVM's context has long registered the
    // StateStoreCoordinator through earlier streaming suites
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib")
        || a.startsWith("-javaagent"))
    val cmd = Seq(javaBin) ++ jvmOpts ++ Seq("-Xmx1g",
      "-cp", sys.props("java.class.path"), "graft.Bench", "s07_fk_join_batch")
    val out = new StringBuilder
    val err = new StringBuilder
    val rc = Process(cmd, None,
      "SPARK_GRAFT_SF_DIR" -> TestSession.sf, "SPARK_GRAFT_CPUS" -> "2")
      .!(ProcessLogger(l => out.append(l).append('\n'),
        l => err.append(l).append('\n')))
    val total = out.toString.linesIterator.toSeq.lastOption.getOrElse("")
    assert(rc == 0, s"Bench exited $rc:\n${err.toString.takeRight(4000)}")
    assert(total.contains("\"n_queries\":1") && total.contains("\"n_failed\":0"),
      s"total line: $total\n${err.toString.takeRight(4000)}")
  }
}
