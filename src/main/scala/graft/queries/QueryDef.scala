package graft.queries

/** One driver query: its key, the Spark build, and its DuckDB oracle
  * twin. The oracle has no default, so a query without a twin does not
  * compile.
  *
  * The oracle is a thunk, evaluated on every [[oracle]] call: the
  * literal-contract oracles (t21/t23/t28/t21m) inline a fitted model,
  * so their SQL must be built AFTER the queries have run (Verify dumps
  * oracle_sql.json last) — an eager string would freeze the replay
  * fallback at class-init time.
  */
final class QueryDef private (val key: String, val build: Q,
    oracleSql: () => String) {
  def oracle: String = oracleSql()
}

object QueryDef {
  def apply(key: String, build: Q, oracle: => String): QueryDef =
    new QueryDef(key, build, () => oracle)
}
