package graft

import org.scalatest.funsuite.AnyFunSuite

/** No driver thread pools: every Spark action runs on the thread that
  * asks for it, so no driver-side wait can outlive a wedged job. The
  * spec scans `src/main/scala` for the ways to start one and fails on
  * any hit not in [[NoDriverThreadsSpec.allowlist]]. */
class NoDriverThreadsSpec extends AnyFunSuite {
  import NoDriverThreadsSpec._

  private val root = new java.io.File(sys.props("user.dir"), "src/main/scala")

  /** (path under src/main/scala, pattern) for every line that hits. */
  private lazy val hits: Seq[(String, String)] = {
    require(root.isDirectory, s"$root is not a directory")
    val base = root.toPath
    val files = java.nio.file.Files.walk(base).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
    files.toSeq.flatMap { f =>
      val rel = base.relativize(f).toString
      java.nio.file.Files.readAllLines(f).toArray.toSeq.flatMap { line =>
        patterns.filter(p => line.toString.contains(p)).map(rel -> _)
      }
    }
  }

  test("no driver thread pool outside the allowlist") {
    val bad = hits.filterNot(allowlist.contains)
    assert(bad.isEmpty, bad.map { case (f, p) => s"$f: $p" }.mkString(
      "driver thread pool outside NoDriverThreadsSpec.allowlist: ", "; ", ""))
  }

  test("every allowlist entry has a written reason and still matches a hit") {
    allowlist.foreach { case (site, reason) =>
      assert(reason.trim.nonEmpty, s"$site has no reason")
      assert(hits.contains(site), s"stale allowlist entry $site")
    }
  }
}

object NoDriverThreadsSpec {
  val patterns: Seq[String] =
    Seq("scala.concurrent", "Await.", "Executors.", "new Thread(")

  /** (file, pattern) → why that site needs driver threads. */
  val allowlist: Map[(String, String), String] = Map(
    ("graft/sources/v2/ProductTreeSource.scala", "Executors.") ->
      ("planning-time listing pool: each category glob is an independent " +
        "namenode/object-store round trip, and 200 sequential globs cost " +
        "1.7 s of a 2.0 s full read at 40k docs (BASELINE.md \"Round-4: " +
        "V2 connector listing smoke\"). The pool runs no Spark action and " +
        "is shut down before planning returns.")
  )
}
