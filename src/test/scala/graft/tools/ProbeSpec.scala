package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Probe's section parser — pure argument handling, no Spark session. */
class ProbeSpec extends AnyFunSuite {

  test("parseSections keeps known names in the given order") {
    assert(Probe.parseSections("v15,x8, cc") === Seq("v15", "x8", "cc"))
  }

  test("parseSections rejects an unknown name and lists the known ones") {
    val e = intercept[IllegalArgumentException](Probe.parseSections("x8,v51"))
    assert(e.getMessage.contains("unknown probe section(s): v51"))
    assert(e.getMessage.contains(Probe.sections.keys.mkString(",")))
  }

  test("parseSections rejects an empty list") {
    val e = intercept[IllegalArgumentException](Probe.parseSections(" , "))
    assert(e.getMessage.contains("no probe section named"))
  }
}
