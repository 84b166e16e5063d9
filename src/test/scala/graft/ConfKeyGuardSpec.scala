package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every `spark.graft.*` key is a fork a user can select, and each one
  * needs a reason to exist: a fail-fast cap, a guard or timing value that
  * tests drive low, or an opt-in rule a registry query turns on. This
  * scan of the sources fails on any key outside that list, so a new knob
  * has to add itself here, in review. */
class ConfKeyGuardSpec extends AnyFunSuite with Matchers {

  private val kept = Set(
    // fail-fast caps
    "similarity.maxBroadcastRows", "events.maxMarkovStates",
    "ivf.maxSemanticBucket", "neardup.maxBandBucket",
    "topk.maxTieRowsPerGroup",
    // guards that tests set low to reach them cheaply
    "topk.maxGroupsPerPartition", "topk.rewriteMaxK",
    // timing and cadence values that tests drive
    "maint.staleLockMs", "maint.heartbeatMs", "versions.checkpointEvery",
    "versions.checkpointClaimFreshMs",
    // opt-in rules a registry query turns on
    "rangeJoin.binWidth", "topk.rewriteWindow")

  private val keyLiteral = "\"spark\\.graft\\.([A-Za-z0-9_.]+)".r
  private val mainSources = new File("src/main/scala")

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

  test("src/main reads no spark.graft.* key outside the kept list") {
    withClue(s"run from the project root (${mainSources.getAbsolutePath}): ") {
      mainSources.isDirectory shouldBe true
    }
    val found = for {
      f <- scalaFiles(mainSources)
      (line, i) <- lines(f).zipWithIndex
      m <- keyLiteral.findAllMatchIn(line)
    } yield (m.group(1), s"${f.getPath}:${i + 1}: ${line.trim}")
    // the scan sees the keys that stay
    found.map(_._1).toSet should not be empty
    found.filterNot { case (k, _) => kept(k) }.map(_._2) shouldBe empty
  }
}
