package graft

import org.apache.hadoop.conf.Configuration

/** The `graftcsv` source: its reader and writer (`QuirkCsv`), the
  * `graft_cat` catalog (`QuirkCsvCatalog`), the version log
  * (`QuirkCsvVersions`) and the maintenance procedures.
  *
  * Every filesystem call here resolves its `FileSystem` through
  * [[hadoopConf]]: one Hadoop `Configuration` per JVM, built lazily on
  * first use, in the Spark driver and in reader and writer tasks alike. A
  * fresh `new Configuration()` re-parses `core-default.xml` on its first lookup
  * (milliseconds, against microseconds for a loaded one), and planning one
  * query makes dozens of filesystem calls. The shared conf holds exactly
  * what `new Configuration()` holds (the Hadoop defaults and `*-site.xml`
  * on the classpath, no `spark.hadoop.*` overlay) and nothing ever mutates
  * it. `FileSystem.get` already caches the instances per scheme and user,
  * so every call still gets the `FileSystem` it got before.
  */
package object sources {

  /** The one Hadoop `Configuration` of this JVM (see the package doc).
    * Read-only: never `set` anything on it. */
  private[graft] lazy val hadoopConf: Configuration = new Configuration()
}
