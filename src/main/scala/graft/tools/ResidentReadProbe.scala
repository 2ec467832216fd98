package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import graft.server.GraftHttpServer

/** First and warm cost of the endpoint's 22 read texts (WatDiv's 18 plus
  * four SparqlSuite texts) over HTTP, against a standing store read from
  * the predicate-clustered quads parquet of `Triplizer.cachedStore`: per
  * text, the first read's wall and Spark jobs, then the median wall and
  * the jobs of `reps` warm reads. A text whose warm reads run 0 jobs
  * answers without Spark. Texts run in name order, so a text's first read
  * may find slices an earlier text fetched.
  *
  * Usage: `ResidentReadProbe <sfDir> [reps] [text...]`
  * (`scripts/run_main.sh`), every text when none is named;
  * `SPARK_GRAFT_CPUS` sets the local cores (default 4). */
object ResidentReadProbe {
  private val extraReads: Map[String, String] = Map(
    "sparql_groupby_agg" -> """
        SELECT ?seg (COUNT(*) AS ?n) (SUM(?bal) AS ?total) (AVG(?bal) AS ?avgbal)
               (MIN(?bal) AS ?minbal) (MAX(?bal) AS ?maxbal)
        WHERE { ?c <customer#c_mktsegment> ?seg . ?c <customer#c_acctbal> ?bal }
        GROUP BY ?seg""",
    "sparql_orderby_limit" -> """
        SELECT ?name ?bal WHERE {
          ?c <customer#c_name> ?name . ?c <customer#c_acctbal> ?bal }
        ORDER BY DESC(?bal) ?name LIMIT 10""",
    "sparql_distinct" -> """
        SELECT DISTINCT ?seg WHERE { ?c <customer#c_mktsegment> ?seg }""",
    "sparql_filter_arith" -> """
        SELECT ?li ?price ?disc WHERE {
          ?li <lineitem#l_extendedprice> ?price .
          ?li <lineitem#l_discount> ?disc .
          FILTER(?price * (1 - ?disc) > 90000.0) }""")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    @volatile var jobs, markers = 0
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val group = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")
        if (group == "probe-marker") markers += 1
        else if (group.startsWith("graft-http-")) jobs += 1
      }
    })
    /** Wall ms and Spark jobs of `body`; a marker job shows the listener
      * bus has delivered every earlier job. */
    def measure(body: => Unit): (Double, Int) = {
      val j0 = jobs
      val t0 = System.nanoTime()
      body
      val ms = (System.nanoTime() - t0) / 1e6
      val m = markers
      sc.setJobGroup("probe-marker", null)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      while (markers == m) Thread.sleep(5)
      (ms, jobs - j0)
    }

    val store = graft.relational.Triplizer.isolatedStore(spark, sfDir)
    store.quads.count()
    val srv = new GraftHttpServer(spark, Some(store)).start(0)
    val client = HttpClient.newHttpClient()
    def read(q: String): Unit = {
      val resp = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/query"))
          .header("Content-Type", "application/sparql-query")
          .POST(HttpRequest.BodyPublishers.ofString(q)).build(),
        HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200, resp.body())
    }
    val all = graft.queries.WatDivSuite.sparqlText ++ extraReads
    val texts = if (args.length > 2) args.drop(2).map(n => n -> all(n)).toMap else all
    println(f"${"text"}%-24s first_ms first_jobs warm_ms warm_jobs")
    val rows = try texts.toSeq.sortBy(_._1).map { case (name, q) =>
      val (firstMs, firstJobs) = measure(read(q))
      val warm = (1 to reps).map(_ => measure(read(q)))
      val warmMs = warm.map(_._1).sorted.apply(reps / 2)
      println(f"$name%-24s $firstMs%8.1f $firstJobs%10d $warmMs%7.1f ${warm.last._2}%9d")
      (firstMs, firstJobs, warmMs, warm.last._2)
    } finally srv.stop()
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    println(f"median first_ms ${median(rows.map(_._1))}%.1f, first_jobs ${median(rows.map(_._2.toDouble))}%.1f, " +
      f"warm_ms ${median(rows.map(_._3))}%.1f, warm_jobs ${median(rows.map(_._4.toDouble))}%.1f; " +
      f"sum first_ms ${rows.map(_._1).sum}%.0f; texts with 0 warm jobs: ${rows.count(_._4 == 0)} of ${rows.size}")
    spark.stop()
  }
}
