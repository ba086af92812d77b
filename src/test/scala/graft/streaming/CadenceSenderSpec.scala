package graft.streaming

import graft.SparkSpec
import graft.core.Schemas
import org.scalatest.funsuite.AnyFunSuite

class CadenceSenderSpec extends AnyFunSuite {
  import CadenceSender._

  test("cadence table matches the reference sleep chain (senders.py:104-120)") {
    val reference = Map("1m" -> 1L, "5m" -> 5L, "15m" -> 15L, "30m" -> 30L,
      "1h" -> 60L, "6h" -> 360L, "12h" -> 720L, "1D" -> 1440L, "7D" -> 10080L)
    reference.foreach { case (iv, secs) =>
      assert(cadenceSecs(iv) == secs, s"cadence for $iv")
    }
    // declared-but-unlisted intervals follow the same seconds/60 rule
    // instead of the reference's hot spin
    assert(cadenceSecs("3h") == Schemas.intervalSeconds("3h") / 60)
    // calendar intervals cap at the weekly cadence
    assert(cadenceSecs("1M") == 10080L)
  }
}
