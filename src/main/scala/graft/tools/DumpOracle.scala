package graft.tools

/** Dev utility: dump SparkEntry.oracleSql as JSON without running any
  * query (Verify writes the same file, but only after executing all ~120
  * queries). Input to dev/duckdb_bench.py, which times the oracle SQL in
  * DuckDB for the bench's duckdb_total field.
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/oracle_sql.json")
    val n = graft.Verify.writeOracleSql(out)
    println(s"wrote $n oracle entries to $out")
  }
}
