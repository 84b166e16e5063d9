package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** operator_mix: passes over a fixed subset of the query registry
  * (`SparkEntry.queries`) on the corpus run.py copied to DIR/corpus, in the
  * order of DIR/mix.txt. One unit = one pass. Each query's output is
  * written to parquet (every output column materialized) under
  * DIR/out/<pass>/<query>; run.py compares it with the query's DuckDB
  * oracle (`SparkEntry.oracleSql`, written to DIR/oracle_sql.json). The
  * first pass is measured: there is no warm-up. */
object OperatorMix {

  def apply(spark: SparkSession, run: Run): Unit = {
    val order = Files.readAllLines(Paths.get(s"${run.work}/mix.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val corpus = s"${run.work}/corpus"
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"${run.work}/oracle_sql.json"), Json.obj(
      order.flatMap(n => oracle.get(n).map(sql => n -> Json.str(sql)))))
    val t = run.tracer
    val start = System.nanoTime
    var pass = 0
    while (pass == 0 || (System.nanoTime - start) / 1e9 < run.seconds) {
      val on = run.beginUnit(pass)
      var passMs = 0.0
      order.foreach { name =>
        run.attempted += 1
        val q0 = System.nanoTime
        try t.span(s"mix.$name") {
          registry(name)(spark, corpus).write.mode("overwrite")
            .parquet(s"${run.work}/out/$pass/$name")
        } catch { case e: Throwable => run.failed(s"$name (pass $pass)", e) }
        val ms = (System.nanoTime - q0) / 1e6
        run.step("query_ms", ms)
        passMs += ms
      }
      run.endUnit(passMs, on)
      run.batchMs += passMs
      pass += 1
    }
    run.info("passes") = pass.toString
    if (run.traced) {
      val n = math.max(1, run.unitsMs.count(_._2)).toDouble
      order.foreach { q =>
        run.layers(s"mix.${q}_s") = t.seconds(s"mix.$q") / n
      }
      run.sparkLayersOver(t.all.filter(_.name.startsWith("mix.")), n)
    }
  }
}
