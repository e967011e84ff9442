package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.VectorExprs

/** SparkSessionExtensions entry point: register the engine's native
  * expressions at session build time —
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`). Injects every kernel of
  * VectorExprs.Registrations, the list `VectorExprs.register` uses.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VectorExprs.Registrations.foreach(ext.injectFunction)
    // rewrite the idiomatic HOF dot product into the codegen kernel
    ext.injectOptimizerRule(_ => graft.functions.DotRewrite)
  }
}
