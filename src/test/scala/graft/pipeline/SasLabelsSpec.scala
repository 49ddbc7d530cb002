package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Parses a label dictionary in the reference's format (the test
  * resource `reference/I94_SAS_Labels_Descriptions.SAS`, FIXTURES.md §A2).
  */
class SasLabelsSpec extends AnyFunSuite {
  val labels = ReferenceFixtures.labels

  test("i94model block has the 4 transport modes") {
    val modes = SasLabels.parseFile(labels, "i94model").toMap
    assert(modes === Map("1" -> "Air", "2" -> "Sea", "3" -> "Land", "9" -> "Not reported"))
  }

  test("I94VISA block (inside a comment) has 3 visa categories") {
    val visas = SasLabels.parseFile(labels, "I94VISA").toMap
    assert(visas === Map("1" -> "Business", "2" -> "Pleasure", "3" -> "Student"))
  }

  test("i94addrl block includes states and the '99' sentinel") {
    val states = SasLabels.parseFile(labels, "i94addrl").toMap
    assert(states("CA") === "CALIFORNIA")
    assert(states.contains("99")) // removed later by stateDim, not the parser
    assert(states.size === 15)
  }

  test("$i94prtl block: padded values and single-token names survive") {
    val ports = SasLabels.parseFile(labels, "$i94prtl").toMap
    assert(ports.size === 17)
    // 'WASHINGTON DC' has no comma → downstream split yields null state
    assert(ports.values.exists(v => v.startsWith("WASHINGTON DC")))
    assert(ports("ALC") === "ALCAN, AK") // padding inside the quotes trimmed
    assert(ports("INT") === "INT''L FALLS, MN") // embedded quote kept as written
  }

  test("i94cntyl block: country codes incl. invalid families") {
    val countries = SasLabels.parseFile(labels, "i94cntyl")
    assert(countries.size === 24)
    assert(countries.exists(_._2.startsWith("INVALID")))
  }

  test("inline parse: strips quotes and whitespace, stops at semicolon") {
    val content = "value demo\n  1 = 'One'\n  2 = 'Two' ;\nvalue other\n 3 = 'Three';"
    assert(SasLabels.parse(content, "demo") === Seq("1" -> "One", "2" -> "Two"))
  }
}
