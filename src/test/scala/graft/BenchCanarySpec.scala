package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.parseCanaryRef]] — the canary tripwire's reference must be a
  * positive JSON number with its workload tag, or the tripwire is off.
  */
class BenchCanarySpec extends AnyFunSuite {
  private def file(ref: String) =
    s"""{\n  "canary_ref": $ref,\n  "workload": "md5x4M-32task-agg97-v1"\n}"""

  test("well-formed file: reference and workload tag") {
    assert(Bench.parseCanaryRef(file("0.35")) === Some((0.35, "md5x4M-32task-agg97-v1")))
    val committed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("scripts/canary_ref.json")), "UTF-8")
    assert(Bench.parseCanaryRef(committed).exists(_._1 > 0.0))
  }

  test("JSON exponent is read whole, not truncated") {
    assert(Bench.parseCanaryRef(file("3.5e-1")).map(_._1) === Some(0.35))
    assert(Bench.parseCanaryRef(file("35E-2")).map(_._1) === Some(0.35))
  }

  test("a reference <= 0 or a malformed number disables the tripwire") {
    assert(Bench.parseCanaryRef(file("0")) === None)
    assert(Bench.parseCanaryRef(file("0.0")) === None)
    assert(Bench.parseCanaryRef(file("-0.35")) === None)
    assert(Bench.parseCanaryRef(file("0.3.5")) === None)
  }

  test("missing workload tag or reference gives None") {
    assert(Bench.parseCanaryRef("""{"canary_ref": 0.35}""") === None)
    assert(Bench.parseCanaryRef("""{"workload": "md5x4M-32task-agg97-v1"}""") === None)
  }
}
