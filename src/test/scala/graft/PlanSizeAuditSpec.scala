package graft

/** Audit of every registered query's LOGICAL plan size — the armor the
  * round-9 `kcore_membership` pathology demands. An iterate operator
  * that references its previous round more than once doubles the
  * analyzed plan per round (2^rounds copies of the base lineage);
  * execution still finishes (memoized), but the driver burns minutes of
  * CPU stringifying the tree for the SQL-execution event — at ANY scale
  * factor, because the cost is plan nodes, not rows. This spec bounds
  * the analyzed-plan node count of (a) every registered query's
  * returned frame and (b) every action fired while CONSTRUCTING those
  * frames (literal-checkpoint memos collect during construction, which
  * is exactly where an exponential plan hides once the returned frame
  * is a collapsed LocalRelation — the kcore shape).
  *
  * The pass itself (cold memos, the construction-time listener, the
  * node bound) is `RegistryPlanPass`, shared with `EntrySpec`'s
  * resolve-and-plan check so the registry is built and planned once.
  */
class PlanSizeAuditSpec extends SparkSpec {
  import RegistryPlanPass.bound

  test("every registered query stays under the plan-node bound (cold memos)") {
    val pass = RegistryPlanPass(spark, sf)
    assert(pass.failures.isEmpty, "registered queries that do not resolve and plan:\n" +
      pass.failures.mkString("\n"))
    val top = pass.sizes.sortBy(-_._2).take(8)
    info("largest analyzed plans: " +
      top.map(s => s"${s._1}:${s._2}").mkString(" "))
    val over = pass.sizes.filter(_._2 >= bound)
    assert(over.isEmpty,
      s"registered plans over the $bound-node bound: $over — an " +
        "iterate operator is probably referencing its previous round " +
        "more than once per round; literal-checkpoint each round")
    val (maxSeen, worst) = pass.maxAction
    info(s"largest construction-time action plan: $maxSeen nodes ($worst)")
    assert(maxSeen < bound,
      s"a construction-time action (memo build) planned $maxSeen " +
        s"nodes (action: $worst) — exponential lineage is hiding " +
        "behind a literal checkpoint; truncate per iteration instead")
  }
}
