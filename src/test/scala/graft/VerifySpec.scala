package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verify's command line: two or three args, anything else is a usage
  * error (exit 2) rather than a MatchError. */
class VerifySpec extends AnyFunSuite {

  test("parseArgs accepts 2 or 3 args and rejects 1 or 4") {
    assert(Verify.parseArgs(Array("sf")).isEmpty)
    assert(Verify.parseArgs(Array("sf", "out", "q1", "extra")).isEmpty)
    assert(Verify.parseArgs(Array("sf", "out")).contains(("sf", "out", Seq.empty[String])))
    assert(Verify.parseArgs(Array("sf", "out", "q03,q110"))
      .contains(("sf", "out", Seq("q03", "q110"))))
  }
}
