package graft

/** The query/suite name filter of Verify (3rd arg), Bench and Census
  * (`SPARK_GRAFT_BENCH_FILTER`), PairSweep (`SPARK_GRAFT_PAIR_FILTER`)
  * and GeneralSweep (`SPARK_GRAFT_GEN_FILTER`); `tools/check.py` mirrors
  * it so the same filter pairs on both sides of an oracle compare.
  *
  * Comma-separated substrings: a bare term includes matching names, a
  * `-` prefix excludes them. With only negative terms everything not
  * excluded runs — the shape the sf1.0 sweep needs (all queries minus
  * the quadratic-oracle pair families). An empty filter selects all.
  */
object NameFilter {
  def apply(spec: String): String => Boolean = {
    val terms = spec.split(',').map(_.trim).filter(_.nonEmpty)
    val (neg, pos) = terms.partition(_.startsWith("-"))
    name => (pos.isEmpty || pos.exists(name.contains)) &&
      !neg.exists(t => name.contains(t.stripPrefix("-")))
  }
}
