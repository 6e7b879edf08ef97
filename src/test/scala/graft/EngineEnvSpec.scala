package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The engine's behaviour is set by its arguments (CrawlConfig, the crawl
 * root, the snapshot) and nothing else: no source under the engine
 * packages reads an environment variable. Deployment configuration comes
 * through `sources.ConfigSource`'s resolution chain, which is outside the
 * scanned packages. */
class EngineEnvSpec extends AnyFunSuite {

  val EnginePackages = Seq("operators", "plans", "functions")
  val EnvReads = Seq("sys.env", "System.getenv")

  test("the engine packages read no environment variables") {
    val base = Paths.get("src", "main", "scala", "graft")
    val sources: Seq[Path] = EnginePackages.flatMap { pkg =>
      val dir = base.resolve(pkg)
      assert(Files.isDirectory(dir), s"engine package directory $dir not found")
      scala.util.Using.resource(Files.walk(dir)) { paths =>
        paths.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      }
    }
    assert(sources.nonEmpty)
    val hits = for {
      src <- sources
      (line, i) <- Files.readAllLines(src).asScala.zipWithIndex
      if EnvReads.exists(line.contains)
    } yield s"$src:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"environment reads in the engine:\n${hits.mkString("\n")}")
  }
}
