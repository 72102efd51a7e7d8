package graft

/** Driver-contract smoke: entry() must return rows on sf0.001, and the
  * oracleSql keys must be exactly the registered queries — all 275 rows
  * are oracle-checked, so a registry row that goes missing, gains a
  * twin or loses its oracle fails here.
  */
class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a registered query; no orphans") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle-only keys: ${o.diff(q)}")
    assert(q.subsetOf(o), s"queries without an oracle: ${q.diff(o)}")
    assert(q.size == 275, s"registry holds ${q.size} queries, expected 275")
  }

  test("API queries serialize to JSON frames at the edge (API.py contract)") {
    val js = graft.queries.Serving.jsonEdge(
      SparkEntry.queries("q_api_latest")(spark, sf0001)).collect()
    assert(js.length == 1)
    assert(js.head.startsWith("{") && js.head.contains("\"event_id\":"))
  }
}
