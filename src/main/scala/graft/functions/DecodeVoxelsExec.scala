package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Physical operator for a [[DecodeVoxels]] generator whose chunk
  * columns are not needed above it (the shape every cutout plans to
  * after column pruning).
  *
  * One hand-written iterator per partition: for each chunk row it asks
  * the bound generator for the chunk's [[ClipIterator]] and returns that
  * iterator's reused `UnsafeRow` as-is. GenerateExec would instead run
  * the interpreted `flatMap` → `++` → `map(UnsafeProjection)` chain and
  * copy every row once more.
  *
  * SQL metrics are added once per chunk, never per row: output rows
  * (clip volume × channels), chunks decoded (chunks that meet the box)
  * and decode time (payload decode, in `clip`).
  */
case class DecodeVoxelsExec(gen: DecodeVoxels, output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def nodeName: String = "DecodeVoxelsExec"

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numChunks" -> SQLMetrics.createMetric(sparkContext, "chunks decoded"),
    "decodeTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "decode time"))

  override protected def doExecute(): RDD[InternalRow] = {
    val bound = BindReferences.bindReference(gen, child.output)
    val numOutputRows = longMetric("numOutputRows")
    val numChunks = longMetric("numChunks")
    val decodeTime = longMetric("decodeTime")
    child.execute().mapPartitions { chunks =>
      new Iterator[InternalRow] {
        private var cur: ClipIterator = null

        override def hasNext: Boolean = {
          while ((cur == null || !cur.hasNext) && chunks.hasNext) {
            val t0 = System.nanoTime()
            cur = bound.clip(chunks.next())
            if (cur != null) {
              decodeTime += System.nanoTime() - t0
              numChunks += 1
              numOutputRows += cur.rows
            }
          }
          cur != null && cur.hasNext
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("no more voxels")
          cur.next()
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DecodeVoxelsExec =
    copy(child = newChild)
}

/** Plans `Generate(d: DecodeVoxels)` onto [[DecodeVoxelsExec]] when the
  * generate is inner and passes no child column through; any other
  * shape falls through to Spark's GenerateExec. */
object DecodeVoxelsStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g @ Generate(d: DecodeVoxels, _, false, _, out, child)
        if g.requiredChildOutput.isEmpty =>
      DecodeVoxelsExec(d, out, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Idempotently put this strategy first on a session's experimental
    * strategies (they run before the built-in ones). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(DecodeVoxelsStrategy))
      spark.experimental.extraStrategies =
        DecodeVoxelsStrategy +: spark.experimental.extraStrategies
}
