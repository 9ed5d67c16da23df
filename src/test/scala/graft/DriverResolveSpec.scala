package graft

import graft.operators.DriverResolve

/** The shared driver fast-path mechanism: the capped take, the
  * registry, and the switch the parity specs flip.
  */
class DriverResolveSpec extends SparkSpecBase {

  import spark.implicits._

  test("take returns the rows at or under the cap, None over it") {
    val df = Seq(1L, 2L, 3L).toDF("x")
    assert(DriverResolve.take(df, 2) === None)
    assert(DriverResolve.take(df, 3).map(_.map(_.getLong(0)).toSet) === Some(Set(1L, 2L, 3L)))
  }

  test("the registry counts engagements and fallbacks by reason; the switch gates both") {
    val (_, counts) = withDriverResolve(on = true) {
      DriverResolve.engaged("spec-site")
      DriverResolve.fellBack("spec-site", "over cap")
      DriverResolve.fellBack("spec-site", "over cap")
      assert(DriverResolve.enabled(spark))
    }
    assert(counts === Map("spec-site" -> 1L, "spec-site/over cap" -> 2L))
    withDriverResolve(on = false)(assert(!DriverResolve.enabled(spark)))
  }
}
