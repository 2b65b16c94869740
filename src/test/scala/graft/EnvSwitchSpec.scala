package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** The engine packages read no environment variables: a plan or width
  * chosen by an environment switch doubles the plan space the specs
  * must pin. Deployment settings (`GraftSession`'s CPU count) live
  * outside these packages. */
class EnvSwitchSpec extends AnyFunSuite {

  private val packages = Seq("operators", "queries", "plans", "state",
    "streaming", "serve", "sources")

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("no engine package reads sys.env or System.getenv") {
    val root = new File("src/main/scala/graft")
    val files = packages.flatMap(p => scalaFiles(new File(root, p)))
    assert(files.size > packages.size, s"no sources found under $root")
    val hits = for {
      f <- files
      src = Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      if line.contains("sys.env") || line.contains("System.getenv")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
