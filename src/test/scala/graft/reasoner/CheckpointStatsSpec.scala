package graft.reasoner

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the reason [[org.apache.spark.sql.graft.CheckpointBridge]]
  * exists: Spark 4's `localCheckpoint` leaf CARRIES the origin plan's
  * statistics, size-only stats multiply across joins, so a
  * checkpoint-per-round fixpoint compounds the `sizeInBytes` BigInt's
  * bit length round over round (measured: 0.3 s rounds exploding to
  * 276 s and BigInteger overflow on the depth-100 linear taxonomy).
  * The severed checkpoint must stay at `defaultSizeInBytes` no matter
  * how many rounds feed it. If the plain-checkpoint half of this spec
  * ever FAILS, Spark changed the carrying behavior and the bridge can
  * be retired. */
class CheckpointStatsSpec extends SparkSpec {

  private def squaringRounds(start: DataFrame, rounds: Int,
      ck: DataFrame => DataFrame): DataFrame = {
    var t = start
    for (_ <- 1 to rounds) {
      val j = t.as("a").join(t.as("b"), col("a.o") === col("b.s"))
        .select(col("a.s").as("s"), col("b.o").as("o"))
      t = ck(j)
    }
    t
  }

  test("plain checkpoints compound join stats; severed checkpoints stay bounded") {
    val base = spark.range(0, 50).select(col("id").as("s"), (col("id") + 1).as("o"))
    val plain = squaringRounds(base, 5, _.localCheckpoint())
    val severed = squaringRounds(base, 5, Reasoner.ckRound)
    val plainBits =
      plain.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    val severedBits =
      severed.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    // severed leaf reports defaultSizeInBytes (a Long) regardless of rounds
    assert(severedBits <= 64, s"severed stats grew to $severedBits bits")
    // the Spark 4 behavior the bridge defends against: five squaring
    // rounds through plain checkpoints yield a triple-digit bit length
    assert(plainBits > 100,
      s"plain checkpoint no longer carries compounding stats ($plainBits bits) — " +
        "CheckpointBridge may be retirable")
  }

  test("severed checkpoint preserves data, attribute ids, and unpersistability") {
    val base = spark.range(0, 10).select(col("id").as("s"), (col("id") + 1).as("o"))
    val ck = Reasoner.ckRound(base)
    assert(ck.collect().map(_.getLong(0)).sorted.sameElements(0L until 10L))
    assert(ck.columns.sameElements(Array("s", "o")))
    // joinable against itself and the origin (fresh plan, resolvable ids)
    assert(ck.as("a").join(ck.as("b"), col("a.o") === col("b.s")).count() == 9)
    Reasoner.unpersistCheckpoint(ck) // must find the LogicalRDD leaf; no throw
  }

  test("inParallel: when one side fails, the other side's checkpoint blocks are dropped") {
    import org.apache.spark.sql.execution.LogicalRDD
    import Reasoner.RoundCheckpointOps
    val base = spark.range(0, 10).select(col("id").as("s"), (col("id") + 1).as("o"))
    @volatile var other: DataFrame = null
    val e = intercept[IllegalStateException] {
      Reasoner.inParallel(
        throw new IllegalStateException("fa failed"),
        { val r = base.localCheckpointSeveredCounted(); other = r._1; r })
    }
    assert(e.getMessage == "fa failed")
    assert(other != null, "the surviving side was not awaited")
    val rddId = other.queryExecution.analyzed.collectLeaves()
      .collectFirst { case lr: LogicalRDD => lr.rdd.id }.get
    assert(!spark.sparkContext.getRDDStorageInfo.exists(_.id == rddId),
      s"checkpoint rdd $rddId of the surviving side is still cached")
  }

  test("count-sum: a Long column summing past Long.MaxValue with both signs stays exact") {
    import org.apache.spark.sql.graft.CheckpointBridge
    import spark.implicits._
    val (max, min) = (Long.MaxValue, Long.MinValue)
    // one partition per group: the first overflows downward, the second
    // upward, the third both ways; the total lies past Long.MaxValue
    val parts = Seq(Seq(min, min, 3L), Seq(max, max, max, -1L), Seq(max, -7L, max, min, max))
    val df = spark.sparkContext.parallelize(parts, parts.size).flatMap(identity).toDF("c")
    val (ck, n, sum) = CheckpointBridge.localCheckpointSeveredCountSum(df, sumOrdinal = 0)
    val exact = BigInt(df.selectExpr("sum(cast(c as decimal(38,0)))").head()
      .getDecimal(0).toBigIntegerExact)
    assert(exact > BigInt(max))
    assert(sum == exact)
    assert(sum == parts.flatten.map(BigInt(_)).sum)
    assert(n == parts.flatten.size)
    assert(ck.collect().map(_.getLong(0)).sorted.sameElements(parts.flatten.sorted))
  }
}
