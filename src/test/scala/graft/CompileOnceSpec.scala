package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each generated class compiles once per JVM. Spark caches compiled
  * whole-stage-codegen classes in an LRU; at its default 100 entries a
  * pass needing more than 100 distinct classes, in a cyclic order, evicts
  * each class before it comes round again, so every warm pass re-ran
  * Janino (and then the JIT) on all of them. GraftSession sizes the cache
  * to 4096. */
class CompileOnceSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf

  test("a second pass over the headline rows compiles no class") {
    // In a fresh JVM the first pass compiles 147 classes at sf0.001, more
    // than a 100-entry cache holds: with it the second pass compiled 139.
    // Here earlier suites may have compiled some of them already.
    def pass(): Long = {
      val c0 = BenchGate.janinoCompiles()
      Registry.headline.foreach(
        _.run(spark, sf).write.format("noop").mode("overwrite").save())
      BenchGate.janinoCompiles() - c0
    }
    val first = pass()
    val second = pass()
    assert(second == 0, s"the warm pass compiled $second classes (first: $first)")
  }
}
