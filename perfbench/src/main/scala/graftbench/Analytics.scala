package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.store.Tables

/** The `analytics` workload: timed passes over a fixed list of gates, each
  * called through `SparkEntry.queries(name)` and collected.
  * After each gate, outside the timer, what it left behind is read (heap
  * after forced collections, persisted RDDs and their blocks); then every
  * persisted block is dropped and the heap collected, as `graft.Bench`
  * does. The first pass's results are written for the oracle check.
  */
final class Analytics(spark: SparkSession, tracer: Tracer, res: Result,
    dataDir: String, outDir: String) {
  import Analytics.Gates

  private def sweep(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }

  def run(sessionS: Double, setups: Int, seconds: Double): Unit = {
    // set-up: file footers, scans of the tables the gates read, JIT warm;
    // repeated so the reported set-up time is a median
    (1 to setups).foreach { _ =>
      val t0 = System.nanoTime()
      for (sf <- Gates.map(_._3).distinct; t <- Seq("customer", "lineitem", "documents"))
        Tables.load(spark, s"$dataDir/$sf", t).count()
      val s = (System.nanoTime() - t0) / 1e9
      res.buildS += s
      res.setupS += sessionS + s
    }
    Main.hostRefMs(spark)
    sweep()
    // every gate's oracle SQL and the tables it runs over
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle.json"),
      Gates.map { case (_, gate, sf) =>
        s"""${Json.str(gate)}:{"sql":${Json.str(SparkEntry.oracleSql(gate))},""" +
          s""""data":${Json.str(s"$dataDir/$sf")}}"""
      }.mkString("{", ",", "}"))

    var gcMs = 0L
    val c0 = tracer.counters()
    val perGate = Gates.map(_._2 -> new GateTotals).toMap
    val refs = scala.collection.mutable.ArrayBuffer[Double]()
    var opIndex = 0
    val start = System.nanoTime()
    var timedNs = 0L
    var retained = 0.0
    while (res.passS.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      refs += Main.hostRefMs(spark)
      var passNs = 0L
      Gates.foreach { case (_, gate, sf) =>
        val before = tracer.counters()
        val s0 = tracer.now()
        val gc0 = Main.gcMs()
        val t0 = System.nanoTime()
        val out = try {
          Right(tracer.span(s"queries.$gate", opIndex) {
            val df = SparkEntry.queries(gate)(spark, s"$dataDir/$sf")
            (df, df.collect().toSeq)
          })
        } catch { case NonFatal(e) => Left(e.toString) }
        val ns = System.nanoTime() - t0
        gcMs += Main.gcMs() - gc0
        passNs += ns
        val g = perGate(gate)
        g.add(ns, tracer.counters() - before, tracer.driverOnlyS(s0, tracer.now()))
        res.ops += Op(opIndex, gate, write = false, ns / 1e6, out.left.toOption)
        opIndex += 1
        out.foreach { case (df, rows) =>
          if (res.passS.isEmpty)
            Main.saveRows(spark, rows, df, s"$outDir/gates/$gate")
        }
        val (rdds, storageMb) = Main.storage(spark)
        g.left(rdds, storageMb)
        retained = math.max(retained, Main.retainedMb(spark))
        sweep()
      }
      timedNs += passNs
      res.passS += passNs / 1e9
    }
    res.timedS = timedNs / 1e9
    // the largest figure any gate left behind, and per pass the blocks all
    // gates left persisted before they were dropped
    res.retainedMb = retained
    val passes = res.passS.size.toDouble
    Main.storeLayers(res, perGate.values.map(_.rdds).sum / passes,
      perGate.values.map(_.storageMb).sum / passes)
    res.layer("store.build_s", Main.median(res.buildS.toSeq), "s")
    res.layer("jvm.gc_ms", gcMs, "ms")
    res.layer("host.ref_ms", Main.median(refs.toSeq), "ms")
    if (tracer.enabled) {
      val driverOnly = perGate.values.map(_.driverOnlyS).sum
      Main.sparkLayers(res, tracer.counters() - c0, res.ops.size, driverOnly)
      Gates.foreach { case (module, gate, _) =>
        val g = perGate(gate)
        val p = s"$module.$gate"
        res.layer(s"$p.wall_s", g.ns / 1e9 / passes, "s")
        res.layer(s"$p.jobs", g.c.jobs / passes, "count")
        res.layer(s"$p.compiles", g.c.compiles / passes, "count")
        res.layer(s"$p.driver_only_s", g.driverOnlyS / passes, "s")
        res.layer(s"$p.task_s", g.c.taskNs / 1e9 / passes, "s")
        res.layer(s"$p.shuffle_mb", (g.c.shuffleRead + g.c.shuffleWrite) / 1048576.0 / passes, "MB")
        res.layer(s"$p.storage_mb", g.storageMb / passes, "MB")
      }
    }
  }
}

final class GateTotals {
  var ns = 0L
  var c: Counters = Counters.zero
  var driverOnlyS = 0.0
  var rdds = 0L
  var storageMb = 0.0
  def add(n: Long, d: Counters, drv: Double): Unit = {
    ns += n; c = c + d; driverOnlyS += drv
  }
  def left(r: Int, mb: Double): Unit = { rdds += r; storageMb += mb }
}

object Analytics {
  /** (module, gate, scale) in pass order: two gates priced by per-round
    * fixed cost (many small rounds, so they run on the smallest tables),
    * then two priced by task time and shuffle (few large joins).
    */
  val Gates: Seq[(String, String, String)] = Seq(
    ("algorithms", "g33_mis", "sf0.001"), ("algorithms", "g30_scc", "sf0.001"),
    ("algorithms", "g34_adamic_adar", "sf0.01"), ("pipeline", "d3_minhash_lsh", "sf0.01"))
}
