package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `graft.sources` resolves every `FileSystem` through one shared Hadoop
  * `Configuration` (`graft.sources.hadoopConf`). A per-call
  * `new Configuration()` re-parses the Hadoop defaults on its first lookup
  * and changes no output, only planning and commit time, so this scan of
  * the sources is what keeps it from coming back. */
class HadoopConfGuardSpec extends AnyFunSuite with Matchers {

  private val perCallConf =
    """new\s+(org\.apache\.hadoop\.conf\.)?Configuration\s*\(\s*\)""".r
  private val mainSources = new File("src/main/scala")
  private val accessor = new File(mainSources, "graft/sources/package.scala")

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  // ISO-8859-1 maps every byte to a char: some sources hold non-UTF-8 bytes
  private def lines(f: File): Seq[String] =
    new String(Files.readAllBytes(f.toPath), StandardCharsets.ISO_8859_1)
      .split("\n").toSeq

  test("src/main builds no Hadoop Configuration outside the shared accessor") {
    withClue(s"run from the project root (${mainSources.getAbsolutePath}): ") {
      accessor.isFile shouldBe true
    }
    // the scan sees the one construction the accessor makes
    lines(accessor).exists(perCallConf.findFirstIn(_).isDefined) shouldBe true
    val offenders = for {
      f <- scalaFiles(mainSources) if f != accessor
      (line, i) <- lines(f).zipWithIndex
      if perCallConf.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    offenders shouldBe empty
  }
}
