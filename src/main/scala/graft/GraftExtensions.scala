package graft

import org.apache.spark.sql.SparkSessionExtensions

/** `spark.sql.extensions=graft.GraftExtensions` — the library's Spark
  * extension entry point (reference analogue: the engine registration a
  * provider performs on connect; here it is Catalyst-native).
  *
  * Injects:
  *  - [[graft.plans.TextStatsOncePerRow]]: physical planning of repeated
  *    TextStats filter gates into a one-walk-per-row Project∘Filter∘Project
  *    split (see its scaladoc for why this cannot be a logical rule);
  *  - [[graft.plans.JaroWinklerLengthPrune]]: optimizer rule conjoining the
  *    implied length-ratio prefilter ahead of Jaro-Winkler threshold gates;
  *  - every custom SQL function in [[functions.Registry.builders]] — the
  *    one function table `Registry.registerAll` also installs — so a
  *    session configured with the extension alone, no Scala call, can use
  *    them in SQL transformations.
  *
  * The as-of merge strategy is not injected here: its one install path is
  * [[graft.plans.AsOfMergeStrategy.setup]], called by the only code that
  * builds an [[graft.plans.AsOfMerge]] node.
  *
  * Everything here is optional: results are bit-identical with or without
  * the extension (the driver's plain-session smoke test runs unextended).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.TextStatsOncePerRow)
    ext.injectOptimizerRule(_ => graft.plans.JaroWinklerLengthPrune)
    functions.Registry.builders.foreach(ext.injectFunction)
  }
}
