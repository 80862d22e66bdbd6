package graft

/** Driver-contract invariants over the query catalog — cheap guards against
  * catalog regressions in later rounds (duplicate names, oracles referencing
  * unknown tables or an uninitialised fragment, an empty bench set, or a
  * broken flagship entry). */
class CatalogSpec extends SparkSpec {

  test("query names are unique and stably prefixed") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.forall(_.matches("q\\d{2,3}_[a-z0-9_]+")))
  }

  test("oracle SQL references only known tables") {
    val known = graft.sources.Tables.names.toSet
    // words following FROM/JOIN that aren't CTE names defined in the query
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      // CTE name, optionally with a recursive-CTE column list (name(c1, c2)
      // AS (...)) and/or the MATERIALIZED keyword the iterative oracles use
      val ctes = "(?i)([a-z_][a-z0-9_]*)\\s*(?:\\([^)]*\\))?\\s+AS\\s*(?:MATERIALIZED\\s*)?\\(".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      // \b: a function name SUFFIXED with join (array_join, list_dot_product
      // commentary like "array_join of ...") must not read as a JOIN clause
      val refs = "(?i)\\b(?:FROM|JOIN)\\s+([a-z_][a-z0-9_]*)".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val unknown = refs -- ctes -- known -- Set("unnest", "generate_series")
      assert(unknown.isEmpty, s"$name references unknown relations: $unknown")
    }
  }

  test("bench subset is substantial and every bench query has a runner") {
    val bench = SparkEntry.benchQueries
    assert(bench.size >= 10)
    assert(bench.map(_.name).toSet.subsetOf(SparkEntry.queries.keySet))
  }

  test("flagship entry returns rows on the smoke scale factor") {
    assert(SparkEntry.entry(spark).count() > 0L)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  // Oracles interpolate shared fragments (queries.OracleSql and the catalog
  // objects' own). A `val` fragment declared after the `defs` that read it
  // is still null when they are built and interpolates as the word `null`;
  // the oracle SQL spells SQL's null in upper case only.
  test("no oracle interpolates an uninitialised fragment") {
    val hit = "\\bnull\\b".r
    val offenders = SparkEntry.oracleSql.collect {
      case (name, sql) if hit.findFirstIn(sql).isDefined => name
    }
    assert(offenders.isEmpty, s"oracles holding a null fragment: $offenders")
  }
}
