package graft

/** Smoke: every public query runs at sf0.001 and returns rows with the
  * advertised column names (full value check is the driver's DuckDB
  * oracle at sf0.01; see tools/verify_local.py). */
class RelationalSpec extends SparkSpec {
  /** Legitimately empty at sf0.001 (e.g. every customer has orders). */
  private val mayBeEmpty = Set("r06_customers_without_orders")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, sf001)
      if (!mayBeEmpty(name))
        assert(df.count() > 0, s"$name returned no rows")
      else df.count() // still must execute
      assert(df.columns.nonEmpty)
      assert(df.columns.forall(c => !c.contains("(")),
        s"$name has unaliased computed column(s): ${df.columns.mkString(",")}")
    }
  }

  test("r28_json_path parses props once per row") {
    val plan = SparkEntry.queries("r28_json_path")(spark, sf001)
      .queryExecution.optimizedPlan
    val parses = plan.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case e if Set("get_json_object", "json_tuple",
        "from_json")(e.prettyName) => e.prettyName })
    assert(parses == Seq("json_tuple"), s"JSON evaluations per row: $parses\n$plan")
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  // The self-evidencing gate's coverage invariant (round 12): every
  // query is DuckDB-checkable or explicitly declared rows-only — a new
  // query landing without its oracle fails here AND makes graft.Verify
  // exit nonzero, so a correctness hole can't ship silently.
  test("every queries key has an oracle or is declared rows-only") {
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked == SparkEntry.rowsOnly,
      s"queries without oracle: ${unchecked -- SparkEntry.rowsOnly}; " +
        s"stale rows-only entries: ${SparkEntry.rowsOnly -- unchecked}")
  }
}
