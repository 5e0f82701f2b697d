package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, LongType}
import graft.core.{Codec, Compresso, Cseg, Vec3}

/** Catalyst optimizer rule: push a voxel-level `label = K` filter down
  * to a payload-level codec `contains()` gate BELOW the decode stage.
  *
  * The reference does this inside its read path (chunks.contains:
  * 459-484 gates rx.decode_binary_image:756-806): chunks whose encoded
  * payload provably lacks the label are never fully decoded. Here the
  * same optimization is expressed where a Spark engine should express
  * it — as a `Rule[LogicalPlan]` (the builder-preference (c) shape) so
  * ANY query that filters a cutout on label equality benefits without
  * opting in at the call site.
  *
  * Matched shape (what the built-in optimizer leaves once it has
  * pushed the user's filter through the cutout's projection and
  * dropped the pass-through Project):
  *
  *   Filter (label#N = K [AND ...])
  *   +- Generate graft_decode_voxels(x0..z1, payload; enc, dtb, ...)
  *      +- <chunk relation>
  *
  * rewritten to
  *
  *   Filter (label#N = K [AND ...])
  *   +- Generate graft_decode_voxels(...)
  *      +- Filter graft_contains_gate(x0..z1, payload)
  *         +- <chunk relation>
  *
  * `label#N` is the [[DecodeVoxels]] generator's 4th output attribute;
  * the conjunct may be `= K` (either operand order), `IN (...)` or its
  * InSet form.
  *
  * Soundness: the upper filter keeps only rows with label = K; any
  * chunk producing such a row contains K and passes the gate, so the
  * rewrite never changes results (the gate only drops chunks whose
  * every decoded row the upper filter would discard). A null payload
  * (fill_missing) decodes to the generator's `background`, so the gate
  * passes it iff K = background. The codec parameters the gate needs
  * (encoding, dtype bytes, cseg block size, background) are typed
  * fields of the generator node; for cseg the gate reads only the
  * palette blocks (Cseg.labels), for raw it scans words without
  * materializing voxel rows. Encodings with no cheap membership probe
  * (png/jpeg/npz) and the float / multi-channel generators are left
  * untouched.
  */
object ContainsGateRule extends Rule[LogicalPlan] with PredicateHelper {

  val GateName = "graft_contains_gate"

  private val GatedEncodings = Set("raw", "compressed_segmentation", "compresso")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        gen @ Generate(d: DecodeVoxels, _, _, _, genOut, gchild))
        if d.value == VoxelValue.Label && GatedEncodings(d.enc) &&
          !alreadyGated(gchild) =>
      labelSet(cond, genOut(3)) match {
        case Some(ks) if ks.nonEmpty =>
          f.copy(child = gen.copy(child = Filter(mkGate(d, ks), gchild)))
        case _ => f
      }
  }

  private def alreadyGated(p: LogicalPlan): Boolean = p match {
    case Filter(c, _) => splitConjunctivePredicates(c).exists {
      case g: ScalaUDF => g.udfName.contains(GateName)
      case _ => false
    }
    case _ => false
  }

  /** Extract the label set from a membership conjunct over the
    * generator's `label` attribute: `label = K` (either literal order),
    * `label IN (...)`, or its InSet form.
    */
  private def labelSet(cond: Expression,
      label: Attribute): Option[Seq[Long]] = {
    def isLabel(e: Expression): Boolean = e match {
      case a: Attribute => a.exprId == label.exprId
      case _ => false
    }
    splitConjunctivePredicates(cond).collectFirst {
      case EqualTo(g, Literal(k: Long, LongType)) if isLabel(g) => Seq(k)
      case EqualTo(Literal(k: Long, LongType), g) if isLabel(g) => Seq(k)
      case In(g, vs) if isLabel(g) &&
          vs.forall { case Literal(_: Long, LongType) => true; case _ => false } =>
        vs.map { case Literal(k: Long, LongType) => k }
      case InSet(g, hset) if isLabel(g) &&
          hset.forall(_.isInstanceOf[Long]) =>
        hset.toSeq.map(_.asInstanceOf[Long])
    }
  }

  /** Build the gate ScalaUDF over the SAME children as the generator
    * (x0, y0, z0, x1, y1, z1, payload): pass iff the payload contains
    * ANY of the sought labels.
    */
  private def mkGate(d: DecodeVoxels, ks: Seq[Long]): Expression = {
    val enc = d.enc; val dtb = d.dtb; val bs = d.csegBlock
    val bg = d.background
    val karr = ks.toArray
    val fn = (x0: Long, y0: Long, z0: Long, x1: Long, y1: Long, z1: Long,
        p: Array[Byte]) =>
      if (p == null) karr.contains(bg)
      else if (enc == "compressed_segmentation") {
        val ls = Cseg.labels(p, Vec3(x1 - x0, y1 - y0, z1 - z0), bs, dtb)
        karr.exists(ls.contains)
      } else if (enc == "compresso")
        karr.exists(k => Compresso.contains(p, k))
      else karr.exists(k => Codec.rawContains(p, dtb, k))
    ScalaUDF(fn, BooleanType, d.children, Nil, None, Some(GateName),
      false, true)
  }

  /** Idempotently install this rule on a session's experimental
    * optimizations (runs after the built-in optimizer batches, i.e.
    * after predicate pushdown has produced the matched shape).
    */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(ContainsGateRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ ContainsGateRule
}
