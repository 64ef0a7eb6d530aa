package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.PvFunctions

/** SURVEY §4's optional Catalyst rule, realized: rewrite
  * `WHERE pvname = '<literal>'` into
  * `WHERE pvname = '<literal>' AND bucket = hashname(<literal>)` on any
  * relation that carries both a string `pvname` and an int `bucket` column
  * (the [[graft.store.SampleStore]] layout). On the store's tree the added
  * predicate is a partition filter, so a plain per-PV query prunes to 1 of
  * 128 bucket directories automatically; on its committed deltas, where
  * `bucket` is a sorted data column, it is pushed to the parquet reader.
  * The reference stores the bucket in its `pv` dimension and consults it
  * by hand (archiver.py:185-186, doc/setup.rst:233-240); here the
  * optimizer does it, on each side of the store's union.
  *
  * Safety: only fires on top-level conjuncts (an OR-ed pvname predicate is
  * left alone), skips plans that already constrain `bucket`, and requires
  * the relation to carry the full store signature — `pvname` (string),
  * `bucket` (int), `run` (long, or int when every run id fits in an int)
  * AND `tsUs` (long) — so an unrelated frame that merely happens to have
  * a pvname and a bucket column is never rewritten.
  */
object BucketPruneRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      // the pvname/bucket attributes must come from the SAME leaf relation
      // unchanged (same exprId): a projection that REDEFINES pvname (e.g.
      // upper(pvname)) mints a new attribute whose equality literal no
      // longer corresponds to the stored hashname buckets, and above a join
      // the pvname may belong to a DIFFERENT relation than the bucket (a
      // non-pvname-equi join of store × dim) — adding the bucket conjunct
      // in either case would silently drop matching rows. The leaf walk
      // only runs once both attributes matched (the common no-store case
      // stays a cheap output scan).
      (bucketAttr(child), pvnameAttr(child)) match {
        case (Some(bucket), Some(pvname)) if sameLeaf(child, bucket, pvname) =>
          val conjuncts = splitConjunctivePredicates(cond)
          val alreadyBucketed = conjuncts.exists(_.references.contains(bucket))
          val pvLiterals = conjuncts.collect {
            case EqualTo(a: Attribute, Literal(s: UTF8String, StringType)) if a.semanticEquals(pvname) => s
            case EqualTo(Literal(s: UTF8String, StringType), a: Attribute) if a.semanticEquals(pvname) => s
          }.distinct
          if (alreadyBucketed || pvLiterals.isEmpty) f
          else {
            val extra: Expression = pvLiterals
              .map(s => EqualTo(bucket, Literal(PvFunctions.hashname(s.toString), IntegerType)))
              .reduce[Expression](And(_, _))
            Filter(And(cond, extra), child)
          }
        case _ => f
      }
  }

  private def sameLeaf(plan: LogicalPlan, a: Attribute, b: Attribute): Boolean =
    plan.collectLeaves().exists { leaf =>
      val out = org.apache.spark.sql.catalyst.expressions.AttributeSet(leaf.output)
      out.contains(a) && out.contains(b)
    }

  private def hasStoreSignature(plan: LogicalPlan): Boolean = {
    import org.apache.spark.sql.types.LongType
    // run is a partition column and may come back int-inferred from the
    // directory names; tsUs is a real long column
    plan.output.exists(a => a.name == "run" && (a.dataType == LongType || a.dataType == IntegerType)) &&
      plan.output.exists(a => a.name == "tsUs" && a.dataType == LongType)
  }

  private def bucketAttr(plan: LogicalPlan): Option[Attribute] =
    if (hasStoreSignature(plan))
      plan.output.find(a => a.name == "bucket" && a.dataType == IntegerType)
    else None

  private def pvnameAttr(plan: LogicalPlan): Option[Attribute] =
    plan.output.find(a => a.name == "pvname" && a.dataType == StringType)
}
