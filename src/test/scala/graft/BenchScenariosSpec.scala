package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench]]'s scenario table and its family walk, checked without a
  * Spark session: the bodies below never touch the session they get. */
class BenchScenariosSpec extends AnyFunSuite {

  private val familyNames = Bench.families.flatMap(_.names)
  private val declared = (familyNames ++ SparkEntry.queries.keys).toSet

  test("every scenario name is declared once across the family table and SparkEntry.queries") {
    assert(Bench.families.forall(_.names.nonEmpty))
    val twice = (familyNames ++ SparkEntry.queries.keys.toSeq)
      .groupBy(identity).collect { case (n, occurrences) if occurrences.size > 1 => n }
    assert(twice.isEmpty)
  }

  test("the sliced gates and every BASELINE.md row name a declared scenario") {
    val baseline = BenchGates.load(java.nio.file.Paths.get("."), _ => None).ref.keySet
    assert(baseline.size >= 40)
    assert((Bench.slicedGates.toSet ++ baseline) -- declared === Set.empty)
  }

  test("a family reporting other names than it declares reads -1 for the missing ones and drops the rest") {
    val f = Bench.Family(Seq("a", "b"))((_, _) => Seq("a" -> 1.0, "c" -> 2.0))
    assert(Bench.measure(f, null, "") === Seq("a" -> ((1.0, 1.0)), "b" -> ((-1.0, -1.0))))
  }

  test("a failing family reads -1 for every declared name") {
    val f = Bench.Family(Seq("a", "b"))((_, _) => throw new IllegalStateException("boom"))
    assert(Bench.guarded(f, null, "") === Seq("a" -> ((-1.0, -1.0)), "b" -> ((-1.0, -1.0))))
  }

  test("repeated families report the minimum under a 2 s median, else the median") {
    def family(values: Double*) = {
      val it = values.iterator
      Bench.Family(Seq("x"), reps = values.size)((_, _) => Seq("x" -> it.next()))
    }
    assert(Bench.measure(family(0.5, 0.1, 0.3), null, "") === Seq("x" -> ((0.1, 0.3))))
    assert(Bench.measure(family(3.0, 2.5, 5.0), null, "") === Seq("x" -> ((3.0, 3.0))))
  }
}
