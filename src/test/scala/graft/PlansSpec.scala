package graft

/** Every physical-plan audit of [[Plans]] on the shared test session —
  * the same [[Plans.check]] that `runMain graft.Plans` writes into
  * PLANS.md, so a session-config change cannot silently flip a plan
  * property.
  */
class PlansSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  for (a <- Plans.audits) test(s"plan audit: ${a.query}") {
    val c = Plans.check(spark, sf, a)
    assert(c.ok, s"${c.verdict} — property: ${a.why}")
  }
}
