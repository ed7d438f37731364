package graft

/** Custom planner layer — deliberately EMPTY.
  *
  * The survey's optimizer audit (SURVEY.md §4) found zero reference
  * semantics that Catalyst's built-in rules cannot plan well: predicate
  * pushdown, column pruning, partial aggregation, broadcast selection,
  * top-k (`TakeOrderedAndProject`), and AQE's runtime re-planning cover
  * every operator in the inventory. Where the engine extends Spark it
  * does so one rung lower on the extension ladder — native
  * `Expression`s ([[graft.functions.DotProduct]]) and aggregates
  * ([[graft.functions.TopKBy]]) that Catalyst plans like built-ins —
  * because a custom `Rule`/`SparkStrategy` would duplicate what the
  * optimizer already does and rot as Spark evolves.
  *
  * The decision is enforced, not assumed: `PlanSpec` asserts the plans
  * Catalyst produces for the headline operators are the ones a 100 TB
  * deployment needs (pushdown at the scan, broadcast star joins,
  * map-side partial top-k, join-free as-of), and `PlanSweepSpec`
  * screens every registered query for unintended nested-loop joins or
  * interpreted UDFs. If a future operator genuinely needs whole-plan
  * semantics (e.g. a native as-of join operator with range-partitioned
  * co-location), it belongs here as `LogicalPlan` + `Rule` +
  * `SparkStrategy` registered through
  * [[graft.functions.GraftExtensions]].
  *
  * The one rule that exists answers from data Catalyst cannot know
  * about, so it lives beside that data: [[graft.streaming.SummaryScan]]
  * replaces the dashboard's aggregate over an upsert table's latest
  * version with the summary the sink wrote for that version, and folds
  * the operators the read stacks on those rows on the driver.
  */
package object plans
