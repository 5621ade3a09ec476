package graft.streaming

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property invariants for the broker's replayable buffer under any
  * interleaving of sends, prefix settles, share-group claims, claim
  * settles and poison routes. `settle`, `settleClaims` and the poison
  * route drop slices in place and `fetch` binary-searches, which is only
  * right while the buffer is seq-ascending; a model of the surviving
  * seqs checks, after every step:
  *  1. ASCENDING — a full fetch returns strictly increasing seqs;
  *  2. SUFFIX — `settle(upTo)` leaves exactly the survivors with
  *     seq > upTo;
  *  3. SLICES — `fetch` of a random (lo, hi] is the model's slice, with
  *     each delivery's own body;
  *  4. POISON — with a one-delivery ceiling, the lapsed claims' slices
  *     leave the backlog and land on the dead-letter address.
  */
class BrokerSettlePropertySpec extends AnyFunSuite {

  // op encoding: (kind, arg) — kind 0 send arg messages, 1 settle up to
  // head - arg (may be below the floor), 2 claim arg rows, 3 settle an
  // issued claim, 4 fetch a random slice, 5 poison-route every lapsed
  // claim, then claim arg rows
  private val genOps: Gen[List[(Int, Int)]] =
    Gen.listOfN(50, Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0, 30)))

  test("settle drops exactly the settled prefix; the buffer stays ascending and every slice reads the same") {
    val prop = Prop.forAll(genOps, Gen.listOfN(50, Gen.zip(Gen.chooseNum(0, 200), Gen.chooseNum(0, 200)))) {
      (ops, slices) =>
        val b = new InMemoryAmqpBroker
        var now = 1000L // leases lapse only when op 5 moves the clock
        b.clockMillis = () => now
        var model = Vector.empty[Long]
        var claims = Vector.empty[AmqpClaim]
        var deadLettered = Vector.empty[Long]
        def body(s: Long) = AmqpValueBody(s"m$s")
        var ok = true
        ops.zip(slices).foreach { case ((kind, a), (x, y)) =>
          val head = b.latestSeq("q")
          kind match {
            case 0 =>
              (1 to a).foreach { _ =>
                val next = b.latestSeq("q") + 1
                val s = b.send("q", AmqpMessage(body = body(next)), 0L)
                if (s >= 0) { ok &&= s == next; model :+= s }
              }
            case 1 =>
              val upTo = head - a
              b.settle("q", upTo)
              model = model.filter(_ > upTo)
            case 2 =>
              claims ++= b.claim("q", "g", "o", a.toLong, leaseMillis = 60000)
            case 3 if claims.nonEmpty =>
              val c = claims(a % claims.length)
              b.settleClaims("q", "g", Seq(c.claimId))
              model = model.filter(s => s <= c.fromExclusive || s > c.toInclusive)
              claims = claims.filterNot(_ eq c)
            case 5 =>
              b.configureGroupPolicy("q", "g", 1, Some("dlq"))
              now += 60001 // past every live lease
              val lapsed = claims
              claims = b.claim("q", "g", "o", math.max(1, a).toLong, leaseMillis = 60000).toVector
              val poisoned = model.filter(s =>
                lapsed.exists(c => s > c.fromExclusive && s <= c.toInclusive))
              model = model.filterNot(poisoned.contains)
              deadLettered ++= poisoned
            case _ => ()
          }
          val all = b.fetch("q", -1, b.latestSeq("q")).map(_._1)
          ok &&= all.zip(all.drop(1)).forall { case (p, n) => p < n }
          ok &&= all == model
          val (lo, hi) = (math.min(x, y).toLong, math.max(x, y).toLong)
          val got = b.fetch("q", lo, hi)
          ok &&= got.map(_._1) == model.filter(s => s > lo && s <= hi)
          ok &&= got.forall { case (s, m, _) => m.body == body(s) }
          val dlq = b.fetch("dlq", 0, b.latestSeq("dlq")).map(_._2.body)
          ok &&= dlq.length == deadLettered.length && dlq.toSet == deadLettered.map(body).toSet
        }
        ok
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(150), prop)
    assert(res.passed, res.status.toString)
  }
}
