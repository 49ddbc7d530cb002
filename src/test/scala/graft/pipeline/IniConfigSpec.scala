package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

class IniConfigSpec extends AnyFunSuite {

  test("parses the reference's own cp.cfg") {
    val cfg = IniConfig.parseFile(ReferenceFixtures.cpCfg)
    val all = cfg.values.flatten.toMap
    assert(all.nonEmpty)
    assert(all.values.forall(_.nonEmpty))
  }

  test("sections, comments, quoted values") {
    val cfg = IniConfig.parse(
      """# comment
        |[paths]
        |input = '/data/in'
        |output=/data/out
        |; another comment
        |[misc]
        |x = 1
        |""".stripMargin)
    assert(cfg("paths")("input") === "/data/in")
    assert(cfg("paths")("output") === "/data/out")
    assert(cfg("misc")("x") === "1")
  }
}
