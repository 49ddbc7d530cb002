package graft.pipeline

import java.nio.file.Paths

/** Paths of the hand-written copies of the reference's input files under
  * `src/test/resources/reference/`, in the reference's formats and with
  * the edge cases FIXTURES.md §A lists: the labels dictionary (§A2), the
  * `;`-delimited demographics CSV (§A1) and the INI config (`cp.cfg`).
  */
object ReferenceFixtures {
  private def path(name: String): String =
    Paths.get(getClass.getResource(s"/reference/$name").toURI).toString

  val labels: String = path("I94_SAS_Labels_Descriptions.SAS")
  val demographicsCsv: String = path("us-cities-demographics.csv")
  val cpCfg: String = path("cp.cfg")
}
