package graft.runner

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}

class SessionsSuite extends SparkTestBase {

  test("the generated-class cache keeps a class across 150 other compiles") {
    // the cache is JVM-wide and sized once, under the first session
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Sessions.CodegenCacheEntries.toString)
    // the cache is keyed by source text: a unique comment keeps these
    // classes apart from every other suite's
    val tag = java.util.UUID.randomUUID().toString
    def trivial(i: Int) = new CodeAndComment(
      s"/* SessionsSuite $tag $i */\n" +
        "public java.lang.Object generate(Object[] references) { return null; }",
      Map.empty)
    val (first, _) = CodeGenerator.compile(trivial(0))
    (1 to 150).foreach(i => CodeGenerator.compile(trivial(i)))
    val (again, _) = CodeGenerator.compile(trivial(0))
    assert(again eq first, "the first class was evicted and compiled again")
  }
}
