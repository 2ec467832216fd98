package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Every Spark job a Verify or Bench entry starts runs under that entry's
  * job group, `graft-verify-<entry>` / `graft-bench-<entry>`, and the
  * group is cleared once the entry is done. */
class EntryJobGroupSpec extends SparkSpec {

  test("a Verify or Bench entry's jobs carry its own job group") {
    val sc = spark.sparkContext
    val marker = "entry-spec-marker"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var markers = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")
        if (g == marker) markers += 1 else groups.add(g)
      }
    }
    /** The job groups of the jobs `body` starts. */
    def groupsOf(body: => Unit): Set[String] = {
      groups.clear()
      body
      val m = markers
      sc.setJobGroup(marker, null)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (markers == m && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markers > m)
      groups.toArray(Array.empty[String]).toSet
    }
    val name = "sparql_distinct"
    val fn = SparkEntry.queries(name)
    val out = java.nio.file.Files.createTempDirectory("graft-entry-groups")
    sc.addSparkListener(listener)
    try {
      assert(groupsOf(assert(Verify.dumpEntry(spark, name, fn, sf(), out.toString).isEmpty)) ==
        Set(s"graft-verify-$name"))
      assert(groupsOf {
        val (_, runs, failure) = Bench.runEntry(spark, name, fn, sf(), reps = 1)
        assert(runs.size == 1 && failure.isEmpty)
      } == Set(s"graft-bench-$name"))
      assert(sc.getLocalProperty("spark.jobGroup.id") == null)
    } finally {
      sc.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    }
  }
}
