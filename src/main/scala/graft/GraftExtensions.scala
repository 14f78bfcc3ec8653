package graft

import graft.functions.{DotProduct, HtmlTextExtract, MisraGries, PartialRatio, PorterStem, PosTagExpr, SmallestK}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point (SURVEY §7.3: custom Catalyst surface).
  *
  * Registers the engine's native expressions with the session function
  * registry, so SQL users get the full custom-function surface too:
  *
  * {{{
  *   spark.sql("SELECT partial_ratio(title, candidate) FROM pairs")
  *   spark.sql("SELECT dot_product(a.embedding, b.embedding) FROM ...")
  *   spark.sql("SELECT porter_stem(token) FROM tokens")
  *   spark.sql("SELECT key, smallest_k(struct(-score, id), 5) FROM t GROUP BY key")
  * }}}
  *
  * It also injects the two small-input planning rules of
  * [[SmallInputPlanning]], both gated on the one threshold
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MiB):
  *  - after the planner, a scan of one file of at most that size is wrapped
  *    in `CoalesceExec(1)`, so `EnsureRequirements` adds no exchange above it;
  *  - after `EnsureRequirements`, a global sort's range shuffle over at most
  *    that many bytes becomes a `SinglePartition` shuffle, with no sampling
  *    job.
  * Inputs over the threshold keep their exchanges, so plans at scale are
  * unchanged. Both rules are AQE-only: Spark applies post-planner and
  * query-stage-prep rules inside adaptive execution.
  *
  * Enabled via `spark.sql.extensions=graft.GraftExtensions` (GraftSession
  * sets it by default).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def register(
      ext: SparkSessionExtensions, name: String, className: String,
      arity: Int, build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(className, name),
      (children: Seq[Expression]) => {
        require(children.length == arity,
          s"$name takes exactly $arity argument${if (arity == 1) "" else "s"}")
        build(children)
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    register(ext, "partial_ratio", classOf[PartialRatio].getName, 2,
      c => PartialRatio(c.head, c(1)))
    register(ext, "dot_product", classOf[DotProduct].getName, 2,
      c => DotProduct(c.head, c(1)))
    register(ext, "porter_stem", classOf[PorterStem].getName, 1,
      c => PorterStem(c.head))
    register(ext, "smallest_k", classOf[SmallestK].getName, 2, { c =>
      require(c(1).foldable, "smallest_k: k must be a literal")
      SmallestK(c.head, c(1).eval().asInstanceOf[Number].intValue)
    })
    register(ext, "freq_items_mg", classOf[MisraGries].getName, 2, { c =>
      require(c(1).foldable, "freq_items_mg: k must be a literal")
      MisraGries(c.head, c(1).eval().asInstanceOf[Number].intValue)
    })
    register(ext, "pos_tag", classOf[PosTagExpr].getName, 1,
      c => PosTagExpr(c.head))
    register(ext, "html_text", classOf[HtmlTextExtract].getName, 1,
      c => HtmlTextExtract(c.head))
    ext.injectQueryPostPlannerStrategyRule(_ => SmallInputPlanning.SingleFileScan)
    ext.injectQueryStagePrepRule(_ => SmallInputPlanning.SmallRangeShuffle)
  }
}
