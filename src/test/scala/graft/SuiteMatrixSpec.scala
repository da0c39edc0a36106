package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.repl.SuiteMatrix

/** E2E suite-matrix replay — the port of the reference's templated
  * scenario suites (tests/suite.file.template.yaml + suite.db.template.yaml
  * + suite.cli.yaml) run end-to-end against the reference's own fixtures.
  */
class SuiteMatrixSpec extends AnyFunSuite with SparkSuite {

  test("suite matrix: every ported scenario passes its validations") {
    val results = SuiteMatrix.runSuite(spark, SuiteMatrix.resourceSuite(),
      SuiteMatrix.fixtureDir, "/tmp/graft-suite-spec", "/root/testdata/sf0.001")
    assert(results.size >= 60, s"suite shrank to ${results.size} scenarios")
    val failed = results.filterNot(_.passed)
    assert(failed.isEmpty, "failed scenarios:\n" +
      failed.map(r => s"  ${r.name}: ${r.detail}").mkString("\n"))
  }
}
