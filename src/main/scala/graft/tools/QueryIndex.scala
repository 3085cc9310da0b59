package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Generates docs/QUERIES.md — the queries → (registration site, impl
  * site, oracle, specs, probe verdict) index — FROM THE REGISTRY ITSELF
  * (VERDICT r8 item 8): the table is derived from `SparkEntry.queries`
  * plus a source scan, so it cannot drift from the code. Collision-
  * guarded: a query name registered in more than one `queries` map (or
  * none) is a hard error, as is an oracle without a query or an impl
  * whose `def` is missing from, or repeated across, its package.
  *
  * Usage: runMain graft.tools.QueryIndex   (writes docs/QUERIES.md)
  */
object QueryIndex {

  private case class Site(file: String, line: Int, impl: String)

  def main(args: Array[String]): Unit = {
    val repo = Paths.get(".").toAbsolutePath.normalize
    val srcMain = repo.resolve("src/main/scala")
    val srcTest = repo.resolve("src/test/scala")

    def scalaFiles(root: Path): Seq[Path] = {
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    }

    // ---- registration + impl sites ------------------------------------
    // A `"<name>" ->` line belongs to the nearest PRECEDING map marker:
    // `queries` (impl registration) or `oracles`/`oracleSql` (oracle
    // text). House style keeps one marker per map literal.
    val nameRe = """"([a-z]\d{2}[a-z0-9_]*)"\s*->\s*(.*)""".r.unanchored
    val markerQ = """val queries\s*[:=]""".r
    val markerO = """(val oracles\s*[:=]|oracleSql)""".r
    val implRe = """^([A-Za-z][A-Za-z0-9_.]*)\s+_\s*,?\s*$""".r

    val registrations =
      scala.collection.mutable.Map.empty[String, List[Site]]
    scalaFiles(srcMain).foreach { f =>
      val rel = repo.relativize(f).toString
      var inQueries = false
      Files.readAllLines(f).asScala.zipWithIndex.foreach { case (l, i) =>
        if (markerQ.findFirstIn(l).isDefined) inQueries = true
        else if (markerO.findFirstIn(l).isDefined) inQueries = false
        if (inQueries) l match {
          case nameRe(name, rhs) =>
            val impl = rhs.trim match {
              case implRe(fn) => fn
              case _          => "(inline)"
            }
            registrations(name) =
              Site(rel, i + 1, impl) :: registrations.getOrElse(name, Nil)
          case _ => ()
        }
      }
    }

    // collision guard — every declared query registered exactly once
    val queries = graft.SparkEntry.queries.keySet
    val oracles = graft.SparkEntry.oracleSql.keySet
    val errors = scala.collection.mutable.Buffer.empty[String]
    queries.foreach { q =>
      registrations.getOrElse(q, Nil) match {
        case _ :: Nil => ()
        case Nil      => errors += s"$q: no `queries` registration found"
        case many => errors += s"$q: registered ${many.size}× " +
          s"(${many.map(s => s"${s.file}:${s.line}").mkString(", ")})"
      }
    }
    (oracles -- queries).foreach(o =>
      errors += s"$o: oracle without a declared query")
    registrations.keySet.diff(queries).foreach(r =>
      errors += s"$r: registration without a SparkEntry.queries key")
    if (errors.nonEmpty) {
      errors.foreach(e => System.err.println(s"[query-index] ERROR $e"))
      System.err.println("[query-index] note: the scanner is a line-regex " +
        "heuristic — it assumes each file declares `val queries` before " +
        "`val oracles`/`oracleSql`, and that a registration's name and " +
        "`->` share one line; a reordered map or a wrapped entry line " +
        "reads as a missing registration")
      sys.exit(1)
    }

    // impl def site: `def <fn>` in the registration's file, else in
    // another file of its package directory (the registering objects
    // mix in trait files such as TextCoreOps or StreamAggs). A def found
    // in none of them, or in more than one, is a hard error like a
    // collision.
    def defSite(site: Site): Either[String, String] =
      if (site.impl == "(inline)") Right(s"${site.file}:${site.line}")
      else {
        val fn = site.impl.split('.').last
        val own = repo.resolve(site.file)
        def defLine(f: Path): Option[String] =
          Files.readAllLines(f).asScala.zipWithIndex.collectFirst {
            case (l, i) if l.matches(s".*\\bdef $fn[\\[( ].*") =>
              s"${repo.relativize(f)}:${i + 1}"
          }
        lazy val siblings = {
          val listing = Files.list(own.getParent)
          try listing.iterator().asScala
            .filter(f => f.toString.endsWith(".scala") && f != own)
            .toSeq.sorted.flatMap(defLine)
          finally listing.close()
        }
        defLine(own).map(Right(_)).getOrElse(siblings match {
          case Seq(one) => Right(one)
          case Seq()    => Left(s"${site.impl}: no `def $fn` in " +
            s"${repo.relativize(own.getParent)}")
          case many     => Left(s"${site.impl}: `def $fn` in " +
            s"${many.size} files (${many.mkString(", ")})")
        })
      }
    val implSite = queries.map(q => q -> defSite(registrations(q).head)).toMap
    val defErrors = implSite.collect { case (q, Left(e)) => s"$q: $e" }
    if (defErrors.nonEmpty) {
      defErrors.toSeq.sorted
        .foreach(e => System.err.println(s"[query-index] ERROR $e"))
      sys.exit(1)
    }

    // ---- spec coverage: test CLASSES naming the query or its impl fn --
    // (a test file may hold many suites — GraftSpec.scala holds ~30 —
    // so matches are attributed to the enclosing class/object block)
    val classRe = """^(?:class|object)\s+([A-Za-z0-9_]+)""".r.unanchored
    val specBlocks: Seq[(String, String)] = scalaFiles(srcTest).flatMap { f =>
      val lines = Files.readAllLines(f).asScala
      val starts = lines.zipWithIndex.collect {
        case (classRe(n), i) => (n, i)
      }
      starts.zipWithIndex.map { case ((n, i), k) =>
        val end = if (k + 1 < starts.size) starts(k + 1)._2 else lines.size
        n -> lines.slice(i, end).mkString("\n")
      }
    }
    def specsOf(name: String, impl: String): String = {
      val fn = impl.split('.').last
      val fnRe = s"(?s).*\\b$fn\\b.*"
      // short-id match ("s41") restricted to test/property DECLARATION
      // lines: catches specs that exercise a query through a private
      // delegate runner rather than the registered impl function,
      // without sweeping in every passing comment mention
      val idRe2 = s""".*(?:test|property)\\s*\\(\\s*".*\\b${
        name.takeWhile(_ != '_')}\\b.*"""
      val hits = specBlocks.collect {
        case (cls, t) if t.contains(name) ||
          t.linesIterator.exists(_.matches(idRe2)) ||
          (impl != "(inline)" && t.matches(fnRe)) => cls
      }.distinct.sorted
      if (hits.isEmpty) "—" else hits.mkString(", ")
    }

    // ---- probe verdicts from SURVEY's measured tables -----------------
    // rows look like `| d01 exact dedup | 0.5 s | 0.9 s | verdict |`;
    // first cell may name several ids (`d12 / v10`).
    val probe = scala.collection.mutable.Map.empty[String, String]
    val surveyLines = Files.readAllLines(repo.resolve("SURVEY.md")).asScala
    val idRe = """^([a-z]\d{2})\b.*""".r
    surveyLines.foreach { l =>
      if (l.startsWith("|")) {
        val cells = l.split("\\|").map(_.trim).filter(_.nonEmpty)
        // a measured-probe row: ≥4 cells, ids in the first, verdict
        // last; when a query appears in several probe tables keep the
        // most informative verdict (the multi-id summary rows carry
        // bare checkmarks)
        if (cells.length >= 4) cells.head.split("[ /]+").foreach {
          case idRe(id) if probe.getOrElse(id, "").length <
            cells.last.length => probe(id) = cells.last
          case _ => ()
        }
      }
    }
    def probeOf(name: String): String =
      probe.get(name.takeWhile(_ != '_')).map { v =>
        if (v.length > 60) v.take(57) + "..." else v
      }.getOrElse("—")

    // ---- emit ---------------------------------------------------------
    val sb = new StringBuilder
    sb ++= "# Query index\n\n"
    sb ++= "**GENERATED — do not edit.** Regenerate with\n"
    sb ++= "`sbt \"runMain graft.tools.QueryIndex\"`. Derived from\n"
    sb ++= "`SparkEntry.queries` + a source scan; generation fails if a\n"
    sb ++= "query is registered more than once, is missing, or an oracle\n"
    sb ++= "has no query — so this table cannot drift from the registry.\n\n"
    sb ++= s"${queries.size} declared queries; ${oracles.size} DuckDB-"
    sb ++= (if (queries.size == oracles.size) "oracle-gated (all of them).\n"
      else "oracle-gated (the rest are declared rows-only sketches).\n")
    sb ++= "`impl` links the operator definition; `registered` the\n"
    sb ++= "`queries`-map entry; `specs` every test file naming the\n"
    sb ++= "query or its impl; `10×/100× probe` the measured scaling\n"
    sb ++= "verdict from SURVEY §6 (— = not individually probed).\n\n"
    sb ++= "| query | impl | registered | oracle | specs | probe verdict |\n"
    sb ++= "| --- | --- | --- | --- | --- | --- |\n"
    queries.toSeq.sorted.foreach { q =>
      val site = registrations(q).head
      val o = if (oracles(q)) "✓" else "rows-only"
      sb ++= s"| $q | `${implSite(q).merge}` (`${site.impl}`) " +
        s"| `${site.file}:${site.line}` | $o " +
        s"| ${specsOf(q, site.impl)} | ${probeOf(q)} |\n"
    }
    val out = repo.resolve("docs/QUERIES.md")
    Files.createDirectories(out.getParent)
    Files.writeString(out, sb.toString)
    println(s"[query-index] wrote ${out} (${queries.size} queries)")
  }
}
