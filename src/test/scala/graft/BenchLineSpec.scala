package graft

/** The bench's last stdout line is what a bench runner parses from a
  * bounded stdout tail, so its size must not grow with the registry.
  * Pure string check — no SparkSession. */
class BenchLineSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("tail line stays within the 1900-byte parse bound at 243 failing queries, scalars only") {
    val names = (1 to 243).map(i => f"a_rather_long_registry_query_name_$i%04d")
    val results = names.map(_ -> 12.345678)
    val errors = names.map(_ -> ("x" * 120)).toMap
    val line = Bench.tailLine(results, errors, nBudgetViolations = 243,
      cpus = 32, probe = (0.123, 0.456), stream = (1234567.8, 1000000.0, 4),
      sf = "/data/testdata/sf0.1")
    assert(line.getBytes("UTF-8").length <= Bench.TailLineMaxBytes,
      s"${line.length} bytes: $line")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val fields = json.fieldNames()
    while (fields.hasNext) {
      val f = fields.next()
      assert(json.get(f).isValueNode, s"$f is not a scalar")
    }
    assert(json.get("queries").asInt == 243 && json.get("errors").asInt == 243)
    assert(math.abs(json.get("value").asDouble - 243 * 12.345678) < 0.01)
  }
}
