package graft

import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck laws for the A5 forward-window core (SURVEY.md §5.2.3):
  * the two-pointer implementation must equal the O(n²) definition on
  * arbitrary event sets — including duplicate timestamps and windows
  * larger than the span.
  */
object WindowLawsProps extends Properties("A5.forwardCountsCore") {

  private val genEvents: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(0, 120)
    ts <- Gen.listOfN(n, Gen.choose(0L, 5000L))
  } yield ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private val genWindow: Gen[Long] = Gen.choose(1L, 2000L)

  private def brute(events: List[(Long, Long)], w: Long): Map[Long, Long] =
    if (events.isEmpty) Map.empty
    else {
      val mx = events.map(_._2).max
      events.collect {
        case (id, t) if t <= mx - w =>
          id -> events.count { case (_, o) => o >= t && o < t + w }.toLong
      }.toMap
    }

  property("equals O(n^2) definition") = Prop.forAll(genEvents, genWindow) { (es, w) =>
    WindowOpsSpec.forwardCountsCore(es.toArray, w).toMap == brute(es, w)
  }

  property("emitted ids are exactly those at or before max-w") =
    Prop.forAll(genEvents, genWindow) { (es, w) =>
      val got = WindowOpsSpec.forwardCountsCore(es.toArray, w).map(_._1).toSet
      val want =
        if (es.isEmpty) Set.empty[Long]
        else { val mx = es.map(_._2).max; es.collect { case (id, t) if t <= mx - w => id }.toSet }
      got == want
    }

  property("counts are >= 1 (window includes self)") =
    Prop.forAll(genEvents, genWindow) { (es, w) =>
      WindowOpsSpec.forwardCountsCore(es.toArray, w).forall(_._2 >= 1L)
    }
}
