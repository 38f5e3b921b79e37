package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed operation of a workload: a request or a gate call. */
final case class Op(i: Int, name: String, write: Boolean, ms: Double,
    error: Option[String])

/** Raw measurements of one run; perfbench/run.py turns them into the
  * reported metrics and checks the recorded outputs.
  */
final class Result {
  val setupS = mutable.ArrayBuffer[Double]()
  val buildS = mutable.ArrayBuffer[Double]()
  val ops = mutable.ArrayBuffer[Op]()
  val passS = mutable.ArrayBuffer[Double]()
  var timedS = 0.0
  var retainedMb = 0.0
  val layers = mutable.LinkedHashMap[String, (Double, String)]()

  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  def json: String = {
    def opJson(o: Op) = s"""{"i":${o.i},"op":"${o.name}","write":${o.write},""" +
      s""""ms":${o.ms},"error":${o.error.map(Json.str).getOrElse("null")}}"""
    val ls = layers.map { case (k, (v, u)) => s""""$k":[$v,"$u"]""" }
    s"""{"setup_s":${setupS.mkString("[", ",", "]")},""" +
      s""""pass_s":${passS.mkString("[", ",", "]")},"timed_s":$timedS,""" +
      s""""retained_mb":$retainedMb,"layers":${ls.mkString("{", ",", "}")},""" +
      s""""ops":${ops.map(opJson).mkString("[", ",\n", "]")}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def rows(rs: Seq[Row]): String = rs.map(value).mkString("[", ",", "]")
}

/** Benchmark entry point, launched by perfbench/run.py with the session
  * configuration in `spark.*` system properties.
  *
  * Usage: graftbench.Main <workload> <dataDir> <outDir> <seconds> <trace> <setups>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, seconds, trace, setups) = args
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark, trace == "1")
    val res = new Result
    val secs = seconds.toDouble
    workload match {
      case "interactive" =>
        new Interactive(spark, tracer, res, dataDir, outDir)
          .run(sessionS, setups.toInt, secs)
      case "analytics" =>
        new Analytics(spark, tracer, res, dataDir, outDir).run(sessionS, setups.toInt, secs)
      case w => sys.error(s"unknown workload: $w")
    }
    tracer.write(s"$outDir/spans.jsonl")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/result.json"), res.json)
    spark.stop()
  }

  /** Heap in use after forced collections plus Spark blocks held on disk
    * (on-heap blocks are already part of the heap figure). Spark releases
    * shuffles and broadcasts from weak-reference queues after a
    * collection, so collections repeat until the figure stops falling.
    */
  def retainedMb(spark: SparkSession): Double = {
    def used() = {
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var heap = used()
    var next = used()
    var rounds = 0
    while (next < heap && rounds < 5) { heap = next; next = used(); rounds += 1 }
    heap = math.min(heap, next)
    val disk = spark.sparkContext.getRDDStorageInfo.map(_.diskSize).sum
    (heap + disk) / 1048576.0
  }

  /** Persisted RDDs and the MB their blocks hold, in memory and on disk. */
  def storage(spark: SparkSession): (Int, Double) = {
    val info = spark.sparkContext.getRDDStorageInfo
    (spark.sparkContext.getPersistentRDDs.size,
      info.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  def storeLayers(res: Result, rdds: Double, mb: Double): Unit = {
    res.layer("store.persisted_rdds", rdds, "count")
    res.layer("store.storage_mb", mb, "MB")
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The fixed calibration operation: a small aggregate job. */
  def hostRefMs(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 2000000, 1, 4).selectExpr("sum(id * 7 % 13)").collect()
    (System.nanoTime() - t0) / 1e6
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Counter deltas of the traced run as layer metrics. */
  def sparkLayers(res: Result, c: Counters, ops: Int, driverOnlyS: Double): Unit = {
    res.layer("spark.jobs", c.jobs, "count")
    res.layer("spark.stages", c.stages, "count")
    res.layer("spark.tasks", c.tasks, "count")
    res.layer("spark.task_s", c.taskNs / 1e9, "s")
    res.layer("spark.sched_delay_ms", c.schedDelayMs, "ms")
    res.layer("spark.shuffle_read_mb", c.shuffleRead / 1048576.0, "MB")
    res.layer("spark.shuffle_write_mb", c.shuffleWrite / 1048576.0, "MB")
    res.layer("spark.spill_mb", c.spill / 1048576.0, "MB")
    res.layer("spark.driver_only_s", driverOnlyS, "s")
    res.layer("spark.codegen.compiles", c.compiles, "count")
    res.layer("spark.codegen.compile_ms", c.compileMs, "ms")
    res.layer("spark.codegen.compiles_per_op", c.compiles.toDouble / math.max(ops, 1), "count")
    res.layer("spark.catalyst.analysis_ms", c.analysisMs, "ms")
    res.layer("spark.catalyst.optimization_ms", c.optimizationMs, "ms")
    res.layer("spark.catalyst.planning_ms", c.planningMs, "ms")
  }

  /** Rows as a one-partition parquet file for the oracle comparison. */
  def saveRows(spark: SparkSession, rows: Seq[Row], like: DataFrame, path: String): Unit =
    spark.createDataFrame(rows.asJava, like.schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
}
