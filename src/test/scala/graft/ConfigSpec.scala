package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.model.PipelineConfig

/** PipelineConfig validation (reference: internal/shared/configs/config.go:4-33). */
class ConfigSpec extends AnyFunSuite with Matchers {

  test("field validation still applies (invalid windowSize)") {
    val e = intercept[IllegalArgumentException] {
      PipelineConfig(windowSize = "day")
    }
    e.getMessage should include("invalid window size")
  }
}
