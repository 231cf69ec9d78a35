package graft

/** Every declared query must DEGRADE to an empty (or well-defined small)
  * result on an empty lake — never throw. Empty inputs are not an edge
  * case at scale: any filter, partition prune, or source lull can hand any
  * stage zero rows (an empty micro-batch is routine in streaming).
  *
  * Round-10 findings this sweep caught before it became a spec: a null
  * Bloom-filter aggregate NPE (join12), schema inference failing on
  * all-empty partitioned store read-backs (join14/sink3/llm28d/e), and
  * exactly-once txn bookkeeping asserting a batch id that never committed
  * (strm15).
  *
  * The audit covers every declared query, the fixed-sink writers too: sbt
  * runs the suites one after another in one forked JVM, and every spec that
  * reads a fixed sink re-runs its writer on its own lake first.
  */
class EmptyInputSpec extends SparkSpec {

  test("every query runs (does not throw) against an empty lake") {
    val out = Paths.sink("empty-lake-spec")
    // one sweep implementation: the spec IS EmptyAudit, so the two can't
    // drift
    EmptyAudit.buildEmptyLake(spark, Sf0001, out)
    val (ok, failures) = EmptyAudit.audit(spark, out)
    assert(failures.isEmpty,
      s"${failures.size} queries throw on an empty lake:\n" +
        failures.mkString("\n"))
    assert(ok === SparkEntry.queries.size,
      s"audit ran the whole query set (ok=$ok)")
  }
}
