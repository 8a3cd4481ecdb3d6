package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Per-turn byte-equality against the committed golden file (the north
 * rule's "extracted per-turn text and block spans must byte-match ... under
 * stable (conv_id, turn_idx) ordering"). Regenerate deliberately with
 * `Test/runMain graft.GoldenGen` after a reviewed semantic change.
 */
class GoldenSpec extends AnyFunSuite {

  test("per-turn extraction byte-matches the committed golden for turns 0..39") {
    val is = getClass.getResourceAsStream("/golden/turns_seed42.txt")
    val golden = try new String(is.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally is.close()
    val actual = GoldenGen.renderAll
    assert(actual == golden)
  }

  test("engine is deterministic across repeated invocations") {
    val out1 = GoldenGen.renderAll
    val out2 = GoldenGen.renderAll
    assert(out1 == out2)
  }
}
