package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD

/** `localCheckpoint` that does NOT carry the origin plan's statistics or
  * constraints into the checkpointed leaf — it reports the checkpoint's
  * MEASURED block size instead.
  *
  * Spark's `Dataset.localCheckpoint` builds a [[LogicalRDD]] with
  * `originStats`/`originConstraints` copied from the checkpointed plan
  * (so one checkpoint keeps good size estimates — desirable in straight-
  * line queries). Inside a FIXPOINT loop it is catastrophic: size-only
  * stats MULTIPLY across a join, the checkpoint freezes the product into
  * the next round's leaf, and the next round multiplies again — the
  * `sizeInBytes` BigInt roughly DOUBLES ITS BIT LENGTH every round.
  * Measured on the depth-100 linear deep-taxonomy probe: per-round wall
  * time 0.3 s at round 10 → 276 s at round 25 (the optimizer spends it
  * multiplying million-bit integers), and
  * `java.lang.ArithmeticException: BigInteger would overflow supported
  * range` soon after.
  *
  * Severing to NO stats (the r7 form) traded that explosion for a
  * planning regression: the leaf reported `defaultSizeInBytes`, so
  * Catalyst stopped broadcasting the node/label-sized relations these
  * loops join every round — measured r6→r7 creep across the whole
  * checkpoint-loop family (graph_components 3.26 → 4.15 s,
  * prob_sdd_wmc 1.73 → 2.26 s; VERDICT r7 item 2). The loops that hint
  * broadcasts explicitly (semi-naive delta) didn't care, but the
  * doubling closures and the graph loops rely on the planner.
  *
  * The fix is free: `localCheckpoint()` is EAGER, so by the time the
  * leaf is rebuilt the blocks are materialized and the block manager
  * knows their exact byte size. That measurement goes in as the leaf's
  * stats — a CONSTANT per round (no multiplication chain, bit length
  * bounded by the real data), and an honest broadcast signal. A
  * partition that spilled reports mem + disk bytes. If storage info is
  * unavailable (no blocks yet for a LAZY checkpoint, or the RDD was
  * evicted) the leaf stays statless, which is the conservative r7
  * behavior.
  *
  * The rebuilt leaf shares the SAME materialized partitions and output
  * attribute ids as the plain checkpoint — only the second (curried)
  * constructor argument list changes, no data moves. */
object CheckpointBridge {
  /** The checkpoint's materialized byte size (memory + disk) as leaf
    * stats; None while the block manager reports no blocks for it. */
  private def measuredStats(cs: ClassicSession, rddId: Int): Option[Statistics] =
    cs.sparkContext.getRDDStorageInfo(_.id == rddId).headOption
      .map(i => i.memSize + i.diskSize)
      .filter(_ > 0L)
      .map(b => Statistics(sizeInBytes = BigInt(b)))

  /** The checkpointed data's REAL partitioning/ordering, recovered from
    * the executed plan (r12). Under AQE, `Dataset.localCheckpoint` reads
    * `executedPlan.outputPartitioning` off the `AdaptiveSparkPlanExec`
    * WRAPPER, which never overrides it — so every checkpoint leaf built
    * under AQE reports `UnknownPartitioning` even when the plan ended in
    * a keyed repartition (measured: `repartition(32, col("u"))` →
    * checkpoint leaf `UnknownPartitioning(0)`, and the next round's join
    * re-exchanges the side the loop pre-partitioned — guide §2.4 "reuse
    * exchanges"). The checkpoint is eager, so by leaf-build time the
    * FINAL adaptive plan exists; its partitioning is the truth about how
    * the materialized blocks are laid out. Kept only when every
    * referenced attribute is still in the leaf's output and the
    * partition count matches the materialized RDD — anything else falls
    * back to the wrapper's report (never a wrong claim, at worst the old
    * missing one). */

  private def executedLayout(plan: org.apache.spark.sql.execution.SparkPlan,
      output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      rddPartitions: Int,
      fallback: org.apache.spark.sql.catalyst.plans.physical.Partitioning,
      fallbackOrdering: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder])
      : (org.apache.spark.sql.catalyst.plans.physical.Partitioning,
         Seq[org.apache.spark.sql.catalyst.expressions.SortOrder]) = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
    val p = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case o => o
    }
    val outSet = AttributeSet(output)
    // only NON-TRIVIAL layouts are worth claiming: a 1-partition hash
    // layout elides no exchange (a local/broadcast join is as good) while
    // the claim still constrains the consumer's planning — measured at
    // sf0.1 (graph_components, whose keyed exchange AQE coalesces to ONE
    // partition): stamping the 1-partition claim added ~2 aligned-shuffle
    // stage-jobs per round (59 → 74 jobs) for a wall-neutral result. At
    // any real scale the layout has > 1 partition and the claim elides
    // the pre-partitioned side's exchange (CkPartProbe's forced-SMJ leg).
    val part: Partitioning = p.outputPartitioning match {
      case e: Expression with Partitioning
        if rddPartitions > 1 && e.references.subsetOf(outSet) &&
          e.asInstanceOf[Partitioning].numPartitions == rddPartitions => e
      case _ => fallback
    }
    // ordering is positional — only a PREFIX whose references survive is
    // a valid claim about the leaf
    val ord = p.outputOrdering.takeWhile(_.references.subsetOf(outSet))
    (part, if (ord.nonEmpty) ord else fallbackOrdering)
  }

  def localCheckpointSevered(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val cs = ck.sparkSession.asInstanceOf[ClassicSession]
        val measured = measuredStats(cs, lr.rdd.id)
        val (part, ord) = executedLayout(df.queryExecution.executedPlan,
          lr.output, lr.rdd.getNumPartitions,
          lr.outputPartitioning, lr.outputOrdering)
        Dataset.ofRows(cs, new LogicalRDD(lr.output, lr.rdd,
          part, ord, lr.isStreaming,
          lr.stream)(cs, measured, None))
      case _ => ck
    }
  }

  /** Severed checkpoint + row count in ONE Spark action (r12).
    *
    * Every fixpoint round in this engine pays TWO blocking actions: the
    * eager `localCheckpoint` that materializes the round's frame, and a
    * separate `count()`/aggregate over the materialized blocks that
    * drives the convergence test. The second action's cost is not the
    * scan (the blocks are local) but the fixed per-action latency — a
    * fresh SQL execution (analyze/optimize/codegen) plus a scheduled
    * job — which at bench scale is the dominant per-round constant
    * (optimization guide §1.2: the loop's ALGORITHM pays 2× the actions
    * it needs). This helper materializes the checkpoint blocks with a
    * `runJob` whose task function counts the rows as they stream into
    * the block store, so the count arrives WITH the materialization:
    * one action per round, identical rows, identical count.
    *
    * The leaf is built exactly like [[localCheckpointSevered]]'s
    * (measured-size stats, no origin stats/constraints). The count is
    * a sum of per-partition exact long counts — the same value
    * `df.count()` returns, by construction. */
  def localCheckpointSeveredCounted(df: DataFrame): (DataFrame, Long) = {
    val (ck, agg) = localCheckpointSeveredAgg[Long](df, 0L,
      (n, _) => n + 1L, _ + _)
    (ck, agg)
  }

  /** Severed checkpoint + row count + exact integer sum of one integral
    * (Long, Int, Short or Byte) column, all in ONE action — the
    * connected-components convergence shape (Σ label strictly decreases
    * until the fixpoint). The sum is exact at any scale: it accumulates
    * in BigInteger, so the result equals `sum(cast(lbl as decimal(38,0)))`
    * (both are the exact integer sum). Narrow columns are read with
    * their own accessor, which sign-extends: an UnsafeRow stores them
    * zero-extended in an 8-byte word, so `getLong` would read int -1 as
    * 4294967295. Any other column type is refused. The column must be
    * non-null (`sumOrdinal` is a schema ordinal of `df`).
    *
    * Each task counts and sums in primitive longs, so a row allocates
    * nothing; a partition's sum moves into a BigInteger only when the
    * long addition overflows (`Math.addExact` throws). */
  def localCheckpointSeveredCountSum(df: DataFrame,
      sumOrdinal: Int): (DataFrame, Long, BigInt) = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    import java.math.BigInteger
    // an accessor code, not an `InternalRow => Long` function: a generic
    // Function1 returns its Long boxed
    val width = df.schema(sumOrdinal).dataType match {
      case LongType => 8
      case IntegerType => 4
      case ShortType => 2
      case ByteType => 1
      case t => throw new IllegalArgumentException(
        s"localCheckpointSeveredCountSum: column $sumOrdinal is $t, not an integral type")
    }
    val (ck, perPartition) = checkpointWith(df) { it =>
      var n = 0L
      var sum = 0L
      var spilled = BigInteger.ZERO // the part of the sum past a long
      while (it.hasNext) {
        val row = it.next()
        val v = width match {
          case 8 => row.getLong(sumOrdinal)
          case 4 => row.getInt(sumOrdinal).toLong
          case 2 => row.getShort(sumOrdinal).toLong
          case _ => row.getByte(sumOrdinal).toLong
        }
        n += 1L
        try sum = Math.addExact(sum, v)
        catch {
          case _: ArithmeticException =>
            spilled = spilled.add(BigInteger.valueOf(sum)).add(BigInteger.valueOf(v))
            sum = 0L
        }
      }
      (n, spilled.add(BigInteger.valueOf(sum)))
    }
    (ck, perPartition.map(_._1).sum,
      BigInt(perPartition.map(_._2).foldLeft(BigInteger.ZERO)(_.add(_))))
  }

  /** Severed checkpoint + an arbitrary per-row driver aggregate in ONE
    * action — the general form of [[localCheckpointSeveredCounted]] for
    * loops whose convergence metric is not a count (e.g. the
    * connected-components label sum). `seqOp` sees each materialized
    * [[InternalRow]] exactly once (schema = `df.schema`, so column
    * ordinals are the DataFrame's); `combOp` merges the per-partition
    * accumulators on the driver in partition order (use only
    * commutative/associative exact ops for order-independence — counts
    * and integer sums, never float accumulation). */
  def localCheckpointSeveredAgg[T: scala.reflect.ClassTag](df: DataFrame, zero: T,
      seqOp: (T, InternalRow) => T, combOp: (T, T) => T): (DataFrame, T) = {
    val sq = seqOp; val z = zero // avoid capturing `this`/params lazily
    val (ck, perPartition) = checkpointWith(df) { it =>
      var acc = z
      while (it.hasNext) acc = sq(acc, it.next())
      acc
    }
    (ck, perPartition.foldLeft(zero)(combOp))
  }

  /** The severed checkpoint of `df` plus `task`'s result per partition,
    * from the ONE job that materializes the blocks: `task` sees each
    * materialized [[InternalRow]] of its partition exactly once. */
  private def checkpointWith[U: scala.reflect.ClassTag](df: DataFrame)(
      task: Iterator[InternalRow] => U): (DataFrame, Array[U]) = {
    val cs = df.sparkSession.asInstanceOf[ClassicSession]
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    val qe = ds.queryExecution
    // same materialization as Dataset.localCheckpoint: execute, copy the
    // reused UnsafeRow buffers, mark for local checkpoint (lineage is
    // truncated when the job below completes, so per-round plans never
    // chain across rounds), then run ONE job that both fills the block
    // store and folds the convergence aggregate per partition
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val perPartition = cs.sparkContext.runJob(rdd, task)
    // leaf construction: fromDataset performs the attribute-consistent
    // output/partitioning/ordering rewrite Dataset.checkpoint uses; then
    // rebuild it severed (measured stats, no origin stats/constraints),
    // exactly like localCheckpointSevered
    val lr0 = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
    val measured = measuredStats(cs, rdd.id)
    val (part, ord) = executedLayout(qe.executedPlan, lr0.output,
      rdd.getNumPartitions, lr0.outputPartitioning, lr0.outputOrdering)
    val leaf = new LogicalRDD(lr0.output, lr0.rdd, part,
      ord, lr0.isStreaming, lr0.stream)(cs, measured, None)
    (Dataset.ofRows(cs, leaf), perPartition)
  }
}
