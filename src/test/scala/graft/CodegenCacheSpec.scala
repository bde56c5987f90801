package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark's generated-class cache holds graft's working set: a second
  * pass over the 22 TPC-H gates reuses the first pass's classes. With
  * Spark's default 100-entry LRU every lookup of the ~320-class loop
  * missed, so each pass recompiled everything. */
class CodegenCacheSpec extends SparkSuite {
  private lazy val gates =
    SparkEntry.queries.filter { case (name, _) => name.matches("q\\d+_.*") }.toSeq.sortBy(_._1)

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled (cache misses) by each gate in one pass. */
  private def pass(): Seq[(String, Long)] = gates.map { case (name, fn) =>
    val c0 = compiles()
    fn(spark, sf).write.format("noop").mode("overwrite").save()
    name -> (compiles() - c0)
  }

  /** Earlier suites in this JVM may have cached some gate classes; an
    * empty cache makes the first pass compile the whole working set. */
  private def emptyCache(): Unit = {
    val get = CodeGenerator.getClass.getDeclaredMethod("cache")
    get.setAccessible(true)
    val cache = get.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("Engine pins the generated-class cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("a second pass over the TPC-H gates recompiles at most 5% of the first") {
    assert(gates.size == 22)
    emptyCache()
    val first = pass().map(_._2).sum
    val second = pass()
    val recompiled = second.filter(_._2 > 0)
    info(s"classes compiled: first pass $first, second pass ${recompiled.mkString(", ")}")
    assert(first > 0)
    assert(second.map(_._2).sum <= first * 0.05,
      s"first pass compiled $first classes, second pass recompiled $recompiled")
  }
}
