package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TrafficSpec extends AnyFunSuite {
  private val all = "keys=4000,zipf=1.1,ledger_insert_share=0.8,ledger_delete_share=0.02," +
    "master_insert_share=0.05,master_delete_share=0.02,late_share=0.02,late_max_ms=3000," +
    "malformed_share=0.01,rate=250,chunk_ms=1000,drain_events=12000,max_deltas=10"

  test("every key is read into its field") {
    assert(Traffic.parse(all) == Traffic(4000, 1.1, 0.8, 0.02, 0.05, 0.02, 0.02, 3000,
      0.01, 250, 1000, 12000, 10))
  }

  test("a missing key fails") {
    val e = intercept[IllegalArgumentException](Traffic.parse(all.replace(",max_deltas=10", "")))
    assert(e.getMessage.contains("max_deltas"))
    intercept[IllegalArgumentException](Traffic.parse(""))
  }

  test("an unknown or misspelt key fails") {
    val e = intercept[IllegalArgumentException](
      Traffic.parse(all.replace("max_deltas=10", "max_delta=10")))
    assert(e.getMessage.contains("max_delta"))
  }

  test("a key given twice fails") {
    intercept[IllegalArgumentException](Traffic.parse(all + ",rate=500"))
  }
}
