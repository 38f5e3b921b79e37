package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cypher.{CypherSession, Parser}
import graft.model.Graphid
import graft.social.SocialGraph
import graft.store.GraphStore
import graft.util.Checkpoints

/** The `interactive` workload: one client in a closed loop over a
  * generated request sequence, against a TPC-H property graph queried
  * through parameterized Cypher and a social graph used through
  * `SocialGraph`. Every answer and the final store contents are written
  * for the replay check in perfbench/oracle.py.
  */
final class Interactive(spark: SparkSession, tracer: Tracer, res: Result,
    dataDir: String, outDir: String) {

  private val queries = Map(
    "point" -> """MATCH (c:Customer {c_custkey: $a})
                 |RETURN c.c_name AS name, c.c_acctbal AS bal""".stripMargin,
    "hop1" -> """MATCH (c:Customer {c_custkey: $a})-[:PLACED]->(o:Order)
                |RETURN o.o_orderkey AS ok, o.o_totalprice AS price
                |ORDER BY price DESC, ok LIMIT 5""".stripMargin,
    "hop2" -> """MATCH (c:Customer {c_custkey: $a})-[:PLACED]->(o:Order)-[e:CONTAINS]->(p:Part)
                |RETURN p.p_brand AS brand, count(*) AS n, sum(e.l_quantity) AS qty
                |ORDER BY brand""".stripMargin,
    "shortest" -> """MATCH p = shortestPath((x:Customer {c_custkey: $a})-[*..6]-(y:Customer {c_custkey: $b}))
                    |RETURN size(p) - 1 AS d""".stripMargin,
    "set" -> """MATCH (c:Customer {c_custkey: $a})
               |SET c.c_acctbal = c.c_acctbal + 1.0""".stripMargin,
    "merge" -> "MERGE (t:Tag {name: $s})")

  val Writes = Set("set", "merge", "follow", "unfollow", "post", "like")

  private def ids(g: GraphStore): Set[Int] =
    (g.vertexTables.values ++ g.edgeTables.values).flatMap(Checkpoints.idsOf).toSet

  /** One line of requests.tsv or warmup.tsv: i, op, a, b, t, s. */
  private final case class Req(i: Int, op: String, a: Long, b: Long, t: Long, s: String)

  private def requests(name: String): Seq[Req] = {
    val src = scala.io.Source.fromFile(s"$dataDir/$name.tsv", "UTF-8")
    try src.getLines().map(_.split("\t", -1)).map(f =>
      Req(f(0).toInt, f(1), f(2).toLong, f(3).toLong, f(4).toLong, f(5))).toVector
    finally src.close()
  }

  def run(sessionS: Double, setups: Int, seconds: Double): Unit = {
    val reqs = requests("requests")
    val warm = requests("warmup")

    // set-up: build both stores (materialized in-memory checkpoints),
    // repeated with each generation released before the next so the
    // reported build time is a median, then warm every read path once
    var cy: CypherSession = null
    var social: SocialGraph = null
    (1 to setups).foreach { _ =>
      if (cy != null) Checkpoints.release(spark, ids(cy.store) ++ ids(social.store))
      val t0 = System.nanoTime()
      cy = new CypherSession(spark, GraphStore.tpch(spark, dataDir).compact(eager = true))
      social = new SocialGraph(spark, new GraphStore(Map.empty, Map.empty))
      social.store = Interactive.socialStore(spark, dataDir, social).compact(eager = true)
      res.buildS += (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    warm.foreach(r => execute(cy, social, r, -1))
    val warmS = (System.nanoTime() - w0) / 1e9
    Main.hostRefMs(spark)
    res.buildS.foreach(b => res.setupS += sessionS + b + warmS)

    val answers = new java.io.PrintWriter(s"$outDir/answers.jsonl", "UTF-8")
    val gc0 = Main.gcMs()
    val c0 = tracer.counters()
    val refs = scala.collection.mutable.ArrayBuffer(Main.hostRefMs(spark))
    val start = System.nanoTime()
    var k = 0
    var driverOnly = 0.0
    // whole cycles of the request mix only, so every run weighs the read
    // kinds alike
    while (k < reqs.length &&
        ((System.nanoTime() - start) / 1e9 < seconds || k % Interactive.Cycle != 0)) {
      val r = reqs(k)
      val s0 = tracer.now()
      val t0 = System.nanoTime()
      val out = try Right(execute(cy, social, r, r.i))
        catch { case NonFatal(e) => Left(e.toString) }
      val ms = (System.nanoTime() - t0) / 1e6
      if (tracer.enabled) driverOnly += tracer.driverOnlyS(s0, tracer.now())
      res.ops += Op(r.i, r.op, Writes(r.op), ms, out.left.toOption)
      out.foreach(a => answers.println(s"""{"i":${r.i},"answer":$a}"""))
      k += 1
    }
    res.timedS = (System.nanoTime() - start) / 1e9
    answers.close()
    val gcMs = Main.gcMs() - gc0
    val c1 = tracer.counters()

    res.retainedMb = Main.retainedMb(spark)
    refs += Main.hostRefMs(spark)
    val (rdds, storageMb) = Main.storage(spark)
    Main.storeLayers(res, rdds, storageMb)
    res.layer("store.build_s", Main.median(res.buildS.toSeq), "s")
    res.layer("jvm.gc_ms", gcMs, "ms")
    res.layer("host.ref_ms", Main.median(refs.toSeq), "ms")
    res.layer("social.follows_plan_nodes",
      Interactive.planNodes(social.store.edgeTables("FOLLOWS")), "count")
    if (tracer.enabled) {
      Main.sparkLayers(res, c1 - c0, res.ops.size, driverOnly)
      val spans = tracer.allSpans.filter(_.req >= 0)
      // a request kind the timed region did not reach gets no metric
      def meanMs(metric: String, span: String): Unit = {
        val d = spans.filter(_.name == span).map(s => (s.end - s.start) / 1e6)
        if (d.nonEmpty) res.layer(metric, d.sum / d.size, "ms")
      }
      meanMs("cypher.parse_ms", "cypher.parse")
      meanMs("cypher.run_ms", "cypher.run")
      Seq("point", "hop1", "hop2", "shortest", "set", "merge").foreach(o =>
        meanMs(s"cypher.${o}_ms", s"request.$o"))
      Seq("timeline", "suggest", "followers", "degrees", "follow", "unfollow",
        "post", "like").foreach(o => meanMs(s"social.${o}_ms", s"request.$o"))
    }
    saveFinal(cy, social)
  }

  /** Run one request and return its answer as JSON. */
  private def execute(cy: CypherSession, social: SocialGraph, r: Req, req: Int): String =
    tracer.span(s"request.${r.op}", req) {
      def rows(df: => DataFrame): String =
        Json.rows(tracer.span("exec", req)(df.collect().toSeq))
      def cypher(params: Map[String, Any]): String = {
        val q = queries(r.op)
        if (tracer.enabled) tracer.span("cypher.parse", req)(Parser.parse(q))
        val s = cy.withParams(params)
        val df = tracer.span("cypher.run", req)(s.run(q))
        cy.store = s.store
        rows(df)
      }
      def soc[T](body: => T): T = tracer.span(s"social.${r.op}", req)(body)
      r.op match {
        case "point" | "hop1" | "hop2" | "set" => cypher(Map("a" -> r.a))
        case "shortest" => cypher(Map("a" -> r.a, "b" -> r.b))
        case "merge" => cypher(Map("s" -> r.s))
        case "timeline" => rows(soc(social.timeline(r.a, 20)))
        case "suggest" => rows(soc(social.suggestFriends(r.a, 10)))
        case "followers" => rows(soc(social.followers(r.a, 100)))
        case "degrees" => Json.value(soc(social.degreesOfSeparation(r.a, r.b, 6)).toSeq)
        case "follow" => Json.value(soc(social.follow(r.a, r.b, r.t)))
        case "unfollow" => soc(social.unfollow(r.a, r.b)); "null"
        case "post" => Json.value(soc(social.createPost(r.a, r.b, r.s, r.t)))
        case "like" => Json.value(soc(social.likePost(r.a, r.b, r.t)))
        case o => sys.error(s"unknown request: $o")
      }
    }

  /** Final store contents, keys unpacked, for the replay check. */
  private def saveFinal(cy: CypherSession, social: SocialGraph): Unit = {
    def key(c: String) = Graphid.locidCol(col(c))
    def save(name: String, df: DataFrame) =
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/final/$name")
    val s = social.store
    save("follows", s.edgeTables("FOLLOWS").select(key("src").as("src_key"),
      key("dst").as("dst_key"), col("followed_at")))
    save("likes", s.edgeTables("LIKES").select(key("src").as("user_key"),
      key("dst").as("post_key"), col("liked_at")))
    save("posts", s.vertexTables("Post").join(
      s.edgeTables("POSTED").select(col("src").as("author"), col("dst").as("id")), "id")
      .select(key("id").as("post_key"), key("author").as("author_key"),
        col("content"), col("created_at")))
    save("customers", cy.store.vertexTables("Customer")
      .select(col("c_custkey"), col("c_acctbal")))
    save("tags", cy.store.vertexTables.get("Tag")
      .map(_.select(col("name")))
      .getOrElse(spark.emptyDataFrame.withColumn("name", lit("")).limit(0)))
  }
}

object Interactive {
  /** Length of the generated request cycle (perfbench/gen.py CYCLE). */
  val Cycle = 19

  /** The social graph's store from the generated tables, keyed with
    * SocialGraph's label ids.
    */
  def socialStore(spark: SparkSession, dataDir: String, sg: SocialGraph): GraphStore = {
    def parquet(name: String) = spark.read.parquet(s"$dataDir/$name.parquet")
    def user(c: String) = Graphid.packCol(sg.UserLab, col(c))
    def post(c: String) = Graphid.packCol(sg.PostLab, col(c))
    def pair(a: String, b: String) = col(a) * 1000000L + col(b)
    new GraphStore(
      Map(
        "User" -> parquet("users").select(user("user_key").as("id"), col("username")),
        "Post" -> parquet("posts").select(post("post_key").as("id"),
          col("content"), col("created_at"))),
      Map(
        "FOLLOWS" -> parquet("follows").select(
          Graphid.packCol(sg.FollowsLab, pair("src_key", "dst_key")).as("id"),
          user("src_key").as("src"), user("dst_key").as("dst"), col("followed_at")),
        "POSTED" -> parquet("posts").select(
          Graphid.packCol(sg.PostedLab, col("post_key")).as("id"),
          user("author_key").as("src"), post("post_key").as("dst")),
        "LIKES" -> parquet("likes").select(
          Graphid.packCol(sg.LikesLab, pair("user_key", "post_key")).as("id"),
          user("user_key").as("src"), post("post_key").as("dst"), col("liked_at"))))
  }

  def planNodes(df: DataFrame): Int = df.queryExecution.logical.map(_ => 1).sum
}
