package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry views all derive from `SparkEntry.modules`; these pin
  * what a plain `toMap` merge would hide: a query name claimed by two
  * modules, an oracle or bench variant keyed to no query of its own
  * module, and a bench view that drops or swaps a function. */
class QueryRegistrySpec extends AnyFunSuite {
  private val modules = SparkEntry.modules

  test("query names are unique across modules") {
    val names = modules.flatMap(_.queries.keys)
    val dup = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dup.isEmpty, s"query names in more than one module: $dup")
    assert(SparkEntry.queries.size === names.size)
  }

  test("each module's oracle and variant keys are among its own query keys") {
    modules.foreach { m =>
      val stray = (m.oracles.keySet ++ m.benchVariants.keySet) -- m.queries.keySet
      assert(stray.isEmpty, s"${m.getClass.getSimpleName}: $stray")
    }
  }

  test("benchQueries has exactly the names of queries, sorted") {
    val names = SparkEntry.benchQueries.map(_._1)
    assert(names === SparkEntry.queries.keys.toSeq.sorted)
  }

  test("benchQueries runs each query's variant if it has one, else the query") {
    val bench = SparkEntry.benchQueries.toMap
    val variants = modules.flatMap(_.benchVariants)
    assert(variants.nonEmpty)
    variants.foreach { case (name, fn) => assert(bench(name) eq fn, name) }
    (SparkEntry.queries -- variants.map(_._1)).foreach { case (name, fn) =>
      assert(bench(name) eq fn, name)
    }
  }
}
