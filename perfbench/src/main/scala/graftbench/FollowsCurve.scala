package graftbench

import org.apache.spark.sql.SparkSession

import graft.social.SocialGraph
import graft.store.GraphStore

/** The FOLLOWS lineage curve: consecutive `SocialGraph.follow` calls from
  * a freshly compacted store, with the FOLLOWS plan size and the latency of
  * the follow and of one `timeline` read after each. Run through
  * perfbench/follows_curve.py.
  *
  * Usage: graftbench.FollowsCurve <dataDir> <follows>
  */
object FollowsCurve {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, n) = args
    val spark = SparkSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sg = new SocialGraph(spark, new GraphStore(Map.empty, Map.empty))
    sg.store = Interactive.socialStore(spark, dataDir, sg).compact(eager = true)
    def ms(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    ms(sg.timeline(1, 20).collect())
    println("follow\tplan_nodes\tfollow_ms\ttimeline_ms")
    (1 to n.toInt).foreach { k =>
      val f = ms(sg.follow(k + 1, k + 2, 3000000L + k))
      val nodes = Interactive.planNodes(sg.store.edgeTables("FOLLOWS"))
      val t = ms(sg.timeline(k + 1, 20).collect())
      println(f"$k\t$nodes\t$f%.0f\t$t%.0f")
    }
    spark.stop()
  }
}
