package graft

/** Each generated kernel compiles once per session: after two warm-up
  * passes of the benchmark workloads — the six near-dup queries and
  * the `SalesPipelineDag` medallion run — a third pass compiles
  * nothing. With Spark's default 100-entry kernel cache the LRU
  * evicts part of this working set every pass, and the third pass
  * recompiles dozens of classes (see
  * [[GraftSession.CodegenCacheEntries]]). */
class KernelReuseSpec extends SparkSpec {
  test("a third pass of the near-dup queries and the medallion DAG compiles no kernel") {
    def pass(): Long = {
      val n0 = KernelProbe.compiled()
      KernelProbe.pass(spark, sf, "neardup")
      KernelProbe.pass(spark, sf, "dag")
      KernelProbe.compiled() - n0
    }
    // the first pass's count depends on what earlier suites in this
    // JVM already compiled, so only the third pass is checked
    val first = pass()
    pass()
    val third = pass()
    assert(third == 0, s"third pass compiled $third kernels (first pass: $first)")
  }
}
