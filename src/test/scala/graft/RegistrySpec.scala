package graft

import org.scalatest.funsuite.AnyFunSuite

/** The schema-drift tripwire the round-6 regression proved we need:
  * every registered query must ANALYZE against the current testdata.
  *
  * `optimizedPlan` forces analysis + optimization but not execution of
  * the query itself, so the sweep is fast — EXCEPT that constructing
  * the staged-graph consumers (d04/d06/d14/d15/d16/d26/t23) builds the
  * pair-graph/cluster artifacts once per fresh stage root (the
  * documented eager staging contract). Either way, the sweep catches
  * exactly the class of failure (testdata encoding drift → unresolved
  * function / datatype mismatch at analysis time) that Verify's
  * per-query try/catch used to swallow, leaving broken queries
  * silently absent from the CORRECTNESS artifact.
  */
class RegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("every SparkEntry.queries entry analyzes against the testdata") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, TestSpark.Sf).queryExecution.optimizedPlan; None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, s"\n${failures.mkString("\n")}")
  }

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }

  // Checked on the concatenated Seq: `queries` and `oracleSql` are Maps,
  // and `.toMap` keeps one of two entries that share a key without a word.
  test("catalogue names are unique across the five catalogues") {
    val repeated = SparkEntry.catalogue.groupBy(_.name).collect {
      case (name, entries) if entries.size > 1 => name
    }
    assert(repeated.isEmpty, s"keys catalogued more than once: ${repeated.toSeq.sorted}")
  }

  // A deleted oracle turns a gated query into a rows-only one; only the
  // oracled count shows it.
  test("catalogue size is pinned: 253 queries, 223 of them oracled") {
    val n = SparkEntry.catalogue.size
    val oracled = SparkEntry.catalogue.count(_.oracle.isDefined)
    assert((n, oracled) === ((253, 223)),
      s"catalogue holds $n queries, $oracled oracled: a change that adds or " +
        "removes a key or an oracle updates this pin in the same change")
  }

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).limit(1).count() === 1L)
  }
}
