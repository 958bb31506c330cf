package graft.engine

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite

/** A session from [[Sessions]] keeps a repeated run's generated classes
  * resident: running the same queries again compiles nothing. Spark's
  * default codegen cache holds 100 classes, fewer than one curation
  * run needs, so without the setting every warm run recompiled.
  *
  * `CodeGenerator` sizes its cache once, at the JVM's first compile,
  * from the session active then. This suite therefore forks alone
  * (build.sbt) and builds the shared session before any test body
  * generates code, so no other suite decides the size it measures.
  */
class CodegenResidencySpec extends AnyFunSuite {

  // eager, not lazy: the session exists before this JVM's first compile
  private val spark = graft.SparkTestSession.spark

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("Sessions sizes the codegen class cache past Spark's 100-entry default") {
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) == "1000")
  }

  test("a second pass over 150 distinct generated projections compiles nothing") {
    // each literal is inlined into the generated Java, so every i is
    // its own class: 150 classes overflow the default cache
    def pass(): Long = {
      val before = compiled()
      (2 to 151).foreach(i => spark.range(4).selectExpr(s"id * $i").collect())
      compiled() - before
    }
    val first = pass()
    assert(first >= 150, s"expected one class per projection, compiled $first")
    val second = pass()
    assert(second == 0, s"the second pass recompiled $second classes")
  }
}
