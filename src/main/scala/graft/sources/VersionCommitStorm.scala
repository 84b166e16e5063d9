package graft.sources

import org.apache.hadoop.fs.Path

/** Child-process body for the CROSS-PROCESS versioning spec: a plain
  * JVM (no SparkSession — [[QuirkCsvVersions.commit]] is pure Hadoop FS)
  * that writes `n` data files into the shared table root and commits
  * each as one version entry. Run from
  * QuirkCsvMultiProcessSpec via ProcessBuilder with this classpath;
  * several of these racing one another (and the parent) is exactly the
  * "second driver writing the same table" scenario of a real cluster.
  *
  * args: root writerId nCommits
  *
  * Exit code 0 iff every commit landed; the committed version numbers
  * print one per line to stdout (the parent asserts global uniqueness —
  * a lost or double-allocated number is the failure the exclusive-create
  * claim must prevent). */
object VersionCommitStorm {
  def main(args: Array[String]): Unit = {
    val Array(root, writerId, nStr) = args
    val n = nStr.toInt
    val dir = new Path(root)
    val fs = dir.getFileSystem(hadoopConf)
    (1 to n).foreach { i =>
      val f = new Path(dir, s"part-w$writerId-$i.csv")
      val out = fs.create(f, false)
      out.write(s"k\nw$writerId-$i\n"
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      out.close()
      val v = QuirkCsvVersions.commit(fs, dir, s"append-w$writerId-$i",
        Seq(f), Nil)
      // parent collects these to assert no version was lost or shared
      println(s"COMMITTED $v")
    }
  }
}
