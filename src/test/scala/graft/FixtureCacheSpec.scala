package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** Pins [[FixtureCache]]: a regenerated fixture is never served stale,
  * cached scratch dirs survive [[StreamOps.reclaimScratch]], each scope
  * holds its entries for the right owners, and no other `src/main` file
  * keeps a cache of its own. */
class FixtureCacheSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private def rows(a: Array[Row]): Seq[String] = a.map(_.toString).toSeq

  test("a regenerated fixture rebuilds session-held and shared entries") {
    val copy = Files.createTempDirectory("graft_fixture_copy")
    Files.list(Paths.get(sf)).forEach(f => Files.copy(f, copy.resolve(f.getFileName)))
    val dir = copy.toString
    var sharedBuilds = 0
    def sharedProbe = FixtureCache.shared(dir, "spec_stamp") { sharedBuilds += 1 }
    val before = rows(graft.operators.VectorOps.pqAnn(spark, dir).collect())
    sharedProbe
    // without the PQ seed rows 1..3 the codebooks train from other seeds
    val emb = copy.resolve("embeddings.parquet")
    StreamOps.writeSingleFile(
      spark.read.parquet(emb.toString).filter("vec_id = 0 OR vec_id >= 4"), emb)
    val same = rows(graft.operators.VectorOps.pqAnn(spark, dir).collect())
    val fresh = rows(graft.operators.VectorOps.pqAnn(spark.newSession(), dir).collect())
    assert(same == fresh)
    assert(same != before, "the perturbation did not change v13")
    sharedProbe
    assert(sharedBuilds == 2)
    StreamOps.deleteRecursively(copy)
  }

  test("FileSources' scratch copies survive reclaimScratch") {
    val qs = graft.sources.FileSources.queries.toSeq.sortBy(_._1)
    val first = qs.map { case (n, fn) => n -> rows(fn(spark, sf).collect()) }
    StreamOps.reclaimScratch()
    qs.zip(first).foreach { case ((n, fn), (_, want)) =>
      assert(rows(fn(spark, sf).collect()) == want, n)
    }
  }

  test("each session builds its own session-held entry; a shared entry serves all") {
    val s2 = spark.newSession()
    var held = 0
    def heldBy(s: org.apache.spark.sql.SparkSession) =
      FixtureCache.perSession(s, sf, "spec_scope") { held += 1; held }
    assert(Seq(heldBy(spark), heldBy(s2), heldBy(spark), heldBy(s2)) == Seq(1, 2, 1, 2))
    var shared = 0
    def sharedIn(s: org.apache.spark.sql.SparkSession) =
      FixtureCache.shared(sf, "spec_scope") { shared += 1; s }
    assert((sharedIn(spark) eq spark) && (sharedIn(s2) eq spark))
    assert(shared == 1)
  }

  test("FixtureCache.scala holds the only fixture stamp and session eviction") {
    val seam = "graft/FixtureCache.scala"
    Seq(".lastModified()", "isStopped", "identityHashCode").foreach { needle =>
      val hits = MainSources.containing(needle).filterNot(_ == seam)
      assert(hits.isEmpty, s"$needle outside $seam: $hits")
    }
    Seq("dfCache", "kmCache", "pqCache", "skewStatsCache", "fixtureStamp")
      .foreach { gone =>
        assert(MainSources.containing(gone).isEmpty, s"$gone is back")
      }
  }
}
