package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guards the one-session-factory rule: every entry point in `src/main`
  * gets its session from `GraftSession.local`, so the oracle, the gates,
  * the tools and the benchmark all run one conf. A hand-built builder
  * chain elsewhere is how that conf drifted before. */
class SessionFactorySpec extends AnyFunSuite {

  test("SparkSession.builder appears in src/main only in core/GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val factory = root.resolve("graft/core/GraftSession.scala")
    val walk = Files.walk(root)
    val sites = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != factory)
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder") =>
            s"${root.relativize(p)}:${i + 1}"
        }
      }.toList
    finally walk.close()
    assert(sites.isEmpty, s"build the session with GraftSession.local: $sites")
  }
}
