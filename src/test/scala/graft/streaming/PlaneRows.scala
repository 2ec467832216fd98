package graft.streaming

import graft.model.QuadStore
import graft.sparql.SparqlParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One RSP-QL query over one feed on each plane, as the rows every close
  * emitted: the driver engine ([[RspEngine]]), the batch
  * [[DistributedRsp.emissions]] and the live
  * [[DistributedRsp.streamEmissions]]. A row is its bound variables as
  * strings; a close that emitted no row is absent. */
object PlaneRows {
  /** `(s, p, o, ts)` events of one stream, in ts order. */
  type Feed = Seq[(String, String, String, Long)]
  type ByClose = Map[Long, Set[Map[String, String]]]

  private def byClose(rows: Seq[(Long, Map[String, String])]): ByClose =
    rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  def engine(spark: SparkSession, query: String, feed: Feed,
      static: Option[QuadStore] = None): ByClose = {
    val e = RspEngineBuilder.fromQuery(spark, query, static)
    feed.foreach { case (s, p, o, ts) => e.add("stream", s, p, o, ts) }
    byClose(e.emissions.flatMap(em => em.rows.map(em.windowClose -> _)))
  }

  def batch(spark: SparkSession, query: String, feed: Feed,
      static: Option[QuadStore] = None): ByClose = {
    import spark.implicits._
    val events = feed.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val df = new DistributedRsp(spark, SparqlParser().parseRsp(query), staticStore = static)
      .emissions(events)
    val vars = df.columns.filter(_ != "close").toSeq
    byClose(df.collect().toSeq.map { r =>
      r.getAs[Long]("close") ->
        vars.flatMap(v => Option(r.getAs[Any](v)).map(v -> _.toString)).toMap
    })
  }

  /** The feed as one micro-batch, then one far-future event that moves the
    * watermark past every close of the feed; that event's closes are not
    * reported. */
  def live(spark: SparkSession, query: String, feed: Feed,
      static: Option[QuadStore] = None): ByClose = withRocksDb(spark) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String, String, String)]
    val events = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
      .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
    val sink = s"plane_rows_${System.nanoTime()}"
    val sq = new DistributedRsp(spark, SparqlParser().parseRsp(query), staticStore = static)
      .streamEmissions(events)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    val last = feed.map(_._4).max
    try {
      mem.addData(feed.map { case (s, p, o, ts) => ("stream", ts, s, p, o) })
      sq.processAllAvailable()
      mem.addData(Seq(("stream", last + 1000L, "flush", "flush", "flush")))
      sq.processAllAvailable()
      byClose(spark.table(sink).collect().toSeq
        .map(r => r.getAs[Long]("close") -> r.getAs[Map[String, String]]("binding"))
        .filter(_._1 <= last))
    } finally sq.stop()
  }

  /** Live queries run transformWithState, which needs the RocksDB store. */
  private def withRocksDb[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
